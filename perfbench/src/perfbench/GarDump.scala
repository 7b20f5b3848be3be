package perfbench

import graft.Gar
import graft.sinks.Dump
import graft.sources.GarXml
import graft.synth.GarFixtureBig

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/**
 * gar_dump: a seeded GAR tree in the `GarFixtureBig` layout (ADDR_OBJ over
 * seed-chosen region codes) dumped by `Gar.dump(parallel = true)` to a
 * batched-INSERT psql target in `region_tree` mode, one dump per op.
 *
 * Check: the SHA-256 of each parallel output tree equals that of the
 * sequential path (`parallel = false`) over the same tree, computed once in
 * set-up; RefParitySpec pins the sequential path to the reference's bytes.
 */
final class GarDump(ctx: Ctx, nRegions: Int = 3, rowsPerRegion: Int = 10000) extends Workload {
  import ctx.spark

  val itemMetric = ("rows_per_s", "rows/s")
  val tracePass = 3
  /** Parse and formatting run on every slot, as the probe does. */
  override val probeElasticity = 1.0

  private val regions: Seq[String] = new scala.util.Random(ctx.rand(0x6A8L))
    .shuffle((1 to 99).map(i => f"$i%02d")).take(nRegions).sorted
  private var root: String = _
  private var outBase: String = _
  private var expectedSha: String = _
  private var sequentialS = 0.0
  private var lastFiles: Seq[String] = Nil

  private def dump(out: String, parallel: Boolean): Seq[String] = {
    Files.createDirectories(Paths.get(out))
    Gar.dump(spark, root, out, target = "psql", mode = "region_tree",
      tables = Seq("ADDR_OBJ"), regions = regions, parallel = parallel)
  }

  def prepare(dir: String): Unit = {
    root = GarFixtureBig.write(s"$dir/gar", regions, rowsPerRegion)
    outBase = dir
  }

  def expect(): Unit = {
    val out = s"$outBase/sequential"
    sequentialS = OpResult.timed(dump(out, parallel = false))._2
    expectedSha = GarDump.treeSha(Paths.get(out))
  }

  def op(i: Int): OpResult = {
    val out = s"$outBase/parallel_$i"
    Dirs.delete(Paths.get(out))
    val (files, t) = OpResult.timed(ctx.span("dump_job", "Gar.dump")(dump(out, parallel = true)))
    lastFiles = files
    val ok = files.nonEmpty && GarDump.treeSha(Paths.get(out)) == expectedSha
    if (i > 0) Dirs.delete(Paths.get(s"$outBase/parallel_${i - 1}"))
    OpResult(nRegions.toLong * rowsPerRegion, t, ok)
  }

  def layers(loopSpans: Seq[Span]): Map[String, Double] = {
    val xmlBytes = regions.map(r => Files.size(Paths.get(root, r, "AS_ADDR_OBJ_2_fixture.xml"))).sum.toDouble
    def read = GarXml.read(spark, root, "ADDR_OBJ", regions, lexicalBooleans = true)
    val parses = (1 to 3).map { _ =>
      ctx.span("gar_xml", "read.noop")(read.write.format("noop").mode("overwrite").save())
      ctx.tracer.spans.last
    }
    val parseS = Stats.median(parses.map(_.seconds))
    val dumpS = Stats.median(loopSpans.filter(_.layer == "dump_job").map(_.seconds))
    val sample = read.limit(5000).collect()
    val fields = read.schema.fieldNames.filterNot(n => n == "region" || n == "ord").toSeq
    val idx = fields.map(f => read.schema.fieldIndex(f))
    val rows = sample.map(r => org.apache.spark.sql.Row.fromSeq(idx.map(r.get)))
    val dialect = Dump.dialects("psql")
    var sink = 0L
    val formatNs = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var j = 0
      while (j < rows.length) {
        sink += Dump.formatRowAt(j, rows(j), fields, "ADDR_OBJ", dialect, 500).length
        j += 1
      }
      (System.nanoTime() - t0).toDouble / rows.length
    })
    if (sink == 42L) System.err.println("")
    // near-dup ingest is not a workload of its own (see NearDup); its layer
    // is measured here
    Probe.layers(ctx, new NearDup(ctx), s"${ctx.workDir}/neardup", "near-dup") ++ Map(
      "gar_xml.xml_bytes" -> xmlBytes,
      "gar_xml.rows" -> parses.last.rootRows,
      "gar_xml.parse_s" -> parseS,
      "gar_xml.parse_mb_per_s" -> xmlBytes / parseS / 1e6,
      "dump_job.format_write_s" -> (dumpS - parseS),
      "dump_job.bytes_out" -> lastFiles.map(f => Files.size(Paths.get(f))).sum.toDouble,
      "dump_job.files" -> lastFiles.size.toDouble,
      "dump_job.format_ns_per_row" -> formatNs,
      "dump_job.sequential_s" -> sequentialS)
  }
}

object GarDump {
  /** SHA-256 over (relative path, bytes) of every regular file, in path
    * order; dot-files (the local file system's checksum sidecars) skipped,
    * and the header's generation timestamp (wall clock, as in the reference)
    * masked. */
  def treeSha(root: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => root.relativize(p).toString -> p).toSeq.sortBy(_._1)
    for ((rel, p) <- files) {
      md.update(rel.getBytes("UTF-8"))
      md.update(0.toByte)
      md.update(maskTimestamp(Files.readAllBytes(p)))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private val Stamp = "generated at ".getBytes("UTF-8")

  private def maskTimestamp(b: Array[Byte]): Array[Byte] = {
    val at = b.indices.take(1024).find(i => b.startsWith(Stamp, i))
    at.foreach(i => java.util.Arrays.fill(b, i + Stamp.length, math.min(b.length, i + Stamp.length + 26), '0'.toByte))
    b
  }
}
