package graft

import graft.sinks.{Dump, DumpJob}
import graft.sources.GarXml
import graft.synth.{GarFixture, GarFixtureBig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, raise_error, udf, when}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/**
 * Byte-parity against the REFERENCE ITSELF: the goldens under
 * src/test/resources/ref_goldens were produced by running the unmodified
 * `ru_address dump` CLI (with a stdlib lxml/psutil shim — tools/refshim/)
 * over the exact fixture tree GarFixture.write() regenerates here
 * (tools/gen_ref_goldens.sh). The engine ingests the same XML through the
 * chunked split scanner + runtime XSD schemas and must reproduce every output
 * file byte for byte — the ONLY normalization is the `-- generated at ...`
 * timestamp line, which the reference itself makes non-deterministic
 * (core.py:75-77).
 *
 * Covers: SRC-1..4 (XML ingest, XSD schema, discovery), PRJ-1/2, ENC-1..3
 * (incl. the "true"/"false" *string* bool-encode, xml.py:29-32), BAT-1 (batch
 * size 2 via RA_BATCH_SIZE), ORD-1, SNK-1..4, OUT-1..4, HDR-1, SEP-1, CFG-1
 * (RA_SQL_ENCODING=utf8 run) — and the executor-parallel writer produces the
 * same bytes as the reference's sequential one.
 */
class RefParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val fix: String =
    GarFixture.write(Files.createTempDirectory("garfix").toString)

  private val goldenRoot = Paths.get("src/test/resources/ref_goldens")

  private def norm(s: String): String =
    s.replaceAll("(?m)^-- generated at .*--$", "-- generated at X --")

  private def readFile(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** Compare every golden file in `run` against the same relative path under
    * `got`, and require the same file set. */
  private def assertTreeEqual(run: String, got: String): Unit = {
    val gold = goldenRoot.resolve(run)
    val goldFiles = Files.walk(gold).filter(Files.isRegularFile(_))
      .map[Path](gold.relativize(_)).toArray.map(_.asInstanceOf[Path]).toSeq.sortBy(_.toString)
    assert(goldFiles.nonEmpty, s"no goldens for $run — run tools/gen_ref_goldens.sh")
    val gotRoot = Paths.get(got)
    val gotFiles = Files.walk(gotRoot).filter(Files.isRegularFile(_))
      .map[Path](gotRoot.relativize(_)).toArray.map(_.asInstanceOf[Path]).toSeq
      .filterNot(_.getFileName.toString.startsWith(".")) // Hadoop .crc sidecars
      .sortBy(_.toString)
    assert(gotFiles == goldFiles, s"$run: file sets differ\n got: $gotFiles\ngold: $goldFiles")
    for (rel <- goldFiles) {
      val want = norm(readFile(gold.resolve(rel)))
      val have = norm(readFile(gotRoot.resolve(rel)))
      assert(have == want, s"$run/$rel differs from reference output")
    }
  }

  /** (table, df-with-region+ord) inputs of both renderers: XSD-schema-driven
    * and split-scanned, with a tiny chunk size so even this small fixture
    * exercises multi-chunk boundary resync. */
  private def tableDfs(tables: Seq[String]): Seq[(String, DataFrame)] = {
    val common = GarFixture.commonTables.toSet
    tables.map { t =>
      val regs = if (common(t)) Nil else GarFixture.regions
      t -> GarXml.read(spark, fix, t, regs, chunkBytes = 384)
    }
  }

  private def cfg(target: String, mode: DumpJob.Mode, batch: Int = 500,
      encoding: String = "utf8mb4"): DumpJob.Config = {
    val dialect = target match {
      case "mysql" => Dump.mysqlWith(encoding)
      case other => Dump.dialects(other)
    }
    DumpJob.Config(GarFixture.regions, dialect, mode, batchSize = batch)
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // ----------------------------------------------------- schema subcommand

  /** Fixture tree with an XSD for EVERY known entity — `ru_address schema`
    * parses all of them up front (schema.py:64-70). */
  private lazy val fixAllXsds: String =
    GarFixture.writeAllXsds(GarFixture.write(tmp("garfix_xsd")))

  test("parity: schema dir mode == reference XSLT output (mysql/psql/clickhouse)") {
    // goldens produced by the UNMODIFIED `ru_address schema` running on the
    // refshim's mini-XSLT interpreter (tools/refshim/lxml/_minixslt.py)
    val outM = tmp("s_mysql")
    Gar.schema(spark, fixAllXsds, outM, target = "mysql")
    assertTreeEqual("schema_mysql_dir", outM)
    val outP = tmp("s_psql")
    Gar.schema(spark, fixAllXsds, outP, target = "psql")
    assertTreeEqual("schema_psql_dir", outP)
    val outC = tmp("s_ch")
    Gar.schema(spark, fixAllXsds, outC, target = "clickhouse")
    assertTreeEqual("schema_ch_dir", outC)
  }

  test("parity: schema file mode + --no-keys == reference XSLT output") {
    val outF = tmp("s_mysql_file")
    Gar.schema(spark, fixAllXsds, s"$outF/out.sql", target = "mysql")
    assertTreeEqual("schema_mysql_file", outF)
    val outNk = tmp("s_mysql_nokeys")
    Gar.schema(spark, fixAllXsds, s"$outNk/out.sql", target = "mysql", noKeys = true)
    assertTreeEqual("schema_mysql_nokeys", outNk)
    val outPk = tmp("s_psql_nokeys")
    Gar.schema(spark, fixAllXsds, s"$outPk/out.sql", target = "psql", noKeys = true)
    assertTreeEqual("schema_psql_nokeys", outPk)
  }

  test("parity: schema RA_INCLUDE_DROP=0 + RA_TABLE_ENGINE=InnoDB == reference") {
    import graft.sinks.Ddl
    val out = tmp("s_mysql_nodrop")
    Ddl.writeSchema(s"$out/out.sql", Ddl.MySql,
      graft.model.SchemaRegistry.knownTables.map(_._1),
      Ddl.Options(includeDrop = false, tableEngine = "InnoDB"),
      fixAllXsds, spark.sparkContext.hadoopConfiguration)
    assertTreeEqual("schema_mysql_nodrop_innodb", out)
  }

  // ------------------------------------------------- driver-streamed modes

  test("parity: mysql region_tree == reference CLI output") {
    val out = tmp("p_mrt")
    DumpJob.write(spark, tableDfs(GarFixture.tables), out, cfg("mysql", DumpJob.RegionTree))
    assertTreeEqual("mysql_region_tree", out)
  }

  test("parity: mysql per_table == reference CLI output") {
    val out = tmp("p_mpt")
    DumpJob.write(spark, tableDfs(GarFixture.tables), out, cfg("mysql", DumpJob.PerTable))
    assertTreeEqual("mysql_per_table", out)
  }

  test("parity: mysql per_region == reference CLI output") {
    val out = tmp("p_mpr")
    DumpJob.write(spark, tableDfs(GarFixture.tables), out, cfg("mysql", DumpJob.PerRegion))
    assertTreeEqual("mysql_per_region", out)
  }

  test("parity: mysql direct == reference CLI output") {
    val out = tmp("p_md")
    DumpJob.write(spark, tableDfs(GarFixture.tables), s"$out/out.sql", cfg("mysql", DumpJob.Direct))
    assertTreeEqual("mysql_direct", out)
  }

  test("parity: mysql direct, RA_BATCH_SIZE=2 + RA_SQL_ENCODING=utf8 (CFG-1)") {
    val out = tmp("p_mdb2")
    DumpJob.write(spark, tableDfs(GarFixture.tables), s"$out/out.sql",
      cfg("mysql", DumpJob.Direct, batch = 2, encoding = "utf8"))
    assertTreeEqual("mysql_direct_b2", out)
  }

  test("parity: psql direct == reference CLI output") {
    val out = tmp("p_pd")
    DumpJob.write(spark, tableDfs(GarFixture.tables), s"$out/out.sql", cfg("psql", DumpJob.Direct))
    assertTreeEqual("psql_direct", out)
  }

  test("parity: psql region_tree == reference CLI output") {
    val out = tmp("p_prt")
    DumpJob.write(spark, tableDfs(GarFixture.tables), out, cfg("psql", DumpJob.RegionTree))
    assertTreeEqual("psql_region_tree", out)
  }

  test("parity: csv region_tree == reference CLI output") {
    val out = tmp("p_crt")
    DumpJob.write(spark, tableDfs(GarFixture.tables), out, cfg("csv", DumpJob.RegionTree))
    assertTreeEqual("csv_region_tree", out)
  }

  test("parity: tsv region_tree == reference CLI output") {
    val out = tmp("p_trt")
    DumpJob.write(spark, tableDfs(GarFixture.tables), out, cfg("tsv", DumpJob.RegionTree))
    assertTreeEqual("tsv_region_tree", out)
  }

  // ----------------------------------------------- executor-parallel path

  private def assertParallelParity(run: String, c: DumpJob.Config): Unit = {
    val out = tmp(s"pp_$run")
    val target = if (c.mode == DumpJob.Direct) s"$out/out.sql" else out
    DumpJob.writeParallel(spark, tableDfs(GarFixture.tables), target, c)
    assertTreeEqual(run, out)
  }

  test("parity: executor-parallel region_tree == reference CLI output") {
    assertParallelParity("mysql_region_tree", cfg("mysql", DumpJob.RegionTree))
  }

  test("parity: executor-parallel per_region == reference CLI output") {
    assertParallelParity("mysql_per_region", cfg("mysql", DumpJob.PerRegion))
  }

  test("parity: executor-parallel direct == reference CLI output") {
    assertParallelParity("mysql_direct", cfg("mysql", DumpJob.Direct))
  }

  /** The remaining dump goldens with the config that produced each. Both
    * writers render the same layout, so each golden must come out of both. */
  private def otherDumpGoldens: Seq[(String, DumpJob.Config)] = Seq(
    "mysql_per_table" -> cfg("mysql", DumpJob.PerTable),
    "mysql_direct_b2" -> cfg("mysql", DumpJob.Direct, batch = 2, encoding = "utf8"),
    "psql_direct" -> cfg("psql", DumpJob.Direct),
    "psql_region_tree" -> cfg("psql", DumpJob.RegionTree),
    "csv_region_tree" -> cfg("csv", DumpJob.RegionTree),
    "tsv_region_tree" -> cfg("tsv", DumpJob.RegionTree))

  test("parity: executor-parallel == reference CLI output (other dump goldens)") {
    for ((run, c) <- otherDumpGoldens) assertParallelParity(run, c)
  }

  test("both renderers return the same file list, in layout order, in every mode") {
    // layout order: common tables first, then region files, each in the
    // registry's table order (ORD-1) and regions ascending — not path order
    val commons = Seq("ADDHOUSE_TYPES", "HOUSE_TYPES", "OBJECT_LEVELS", "PARAM_TYPES")
    val regionTs = Seq("ADDR_OBJ", "CHANGE_HISTORY", "HOUSES_PARAMS")
    val cases: Seq[(DumpJob.Mode, Seq[String])] = Seq(
      DumpJob.Direct -> Seq("out.sql"),
      DumpJob.PerRegion -> (commons ++ GarFixture.regions).map(f => s"$f.sql"),
      DumpJob.PerTable -> (commons ++ regionTs).map(t => s"$t.sql"),
      DumpJob.RegionTree -> (commons.map(t => s"$t.sql") ++
        (for (r <- GarFixture.regions; t <- regionTs) yield s"$r/$t.sql")))
    for ((mode, want) <- cases) {
      val c = cfg("mysql", mode)
      val out = tmp(s"order_$mode")
      def run(name: String, render: String => Seq[String]): Seq[String] = {
        val root = s"$out/$name"
        Files.createDirectories(Paths.get(root))
        val target = if (mode == DumpJob.Direct) s"$root/out.sql" else root
        render(target).map(_.stripPrefix(s"$root/"))
      }
      val seq = run("seq", DumpJob.write(spark, tableDfs(GarFixture.tables), _, c))
      val par = run("par", DumpJob.writeParallel(spark, tableDfs(GarFixture.tables), _, c))
      assert(seq == want, s"$mode: write returned $seq")
      assert(par == want, s"$mode: writeParallel returned $par")
    }
  }

  test("Gar facade (the reference CLI surface, 1:1) reproduces reference bytes") {
    // `ru_address dump --target mysql -m region_tree <src> <out>` equivalent:
    // defaults discover regions and tables from the tree like the CLI does
    val out = tmp("gar_facade")
    Gar.dump(spark, fix, out, target = "mysql", mode = "region_tree",
      tables = GarFixture.tables)
    assertTreeEqual("mysql_region_tree", out)
    // and the executor-parallel variant produces the same bytes
    val outP = tmp("gar_facade_par")
    Gar.dump(spark, fix, outP, target = "mysql", mode = "region_tree",
      tables = GarFixture.tables, parallel = true)
    assertTreeEqual("mysql_region_tree", outP)
    // mode demotion: non-directory output path -> direct (command.py:88-89)
    val outD = tmp("gar_facade_direct")
    Gar.dump(spark, fix, s"$outD/out.sql", target = "mysql",
      tables = GarFixture.tables)
    assertTreeEqual("mysql_direct", outD)
    // same demotion on the PARALLEL path: the sections must stage as a
    // sibling of the output FILE, never under it
    val outDP = tmp("gar_facade_direct_par")
    Gar.dump(spark, fix, s"$outDP/out.sql", target = "mysql",
      tables = GarFixture.tables, parallel = true)
    assertTreeEqual("mysql_direct", outDP)
    // csv outside region_tree is rejected (command.py:91-95)
    intercept[IllegalArgumentException] {
      Gar.dump(spark, fix, tmp("gar_csv"), target = "csv", mode = "direct",
        tables = GarFixture.tables)
    }
    // `ru_address schema` equivalent, XSD-driven
    val schemaOut = tmp("gar_schema")
    val files = Gar.schema(spark, fix, schemaOut, target = "mysql",
      tables = Seq("HOUSE_TYPES"))
    assert(files.size == 1)
    val ddl = new String(Files.readAllBytes(Paths.get(schemaOut, "HOUSE_TYPES.sql")), "UTF-8")
    assert(ddl.contains("CREATE TABLE `HOUSE_TYPES`") && ddl.startsWith("-- ---"))
  }

  test("parallel writer: regions sharing one shuffle partition get separate, correct files") {
    // force hash collisions: 2 shuffle partitions, 2 regions + common rows
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try {
      val out = tmp("pp_collide")
      DumpJob.writeParallel(spark, tableDfs(Seq("ADDR_OBJ")), out,
        cfg("tsv", DumpJob.RegionTree))
      // with 1 shuffle partition, regions 01 and 77 are formatted by ONE task;
      // each must still land in its own file with exactly its own rows
      val g01 = norm(readFile(goldenRoot.resolve("tsv_region_tree/01/ADDR_OBJ.tsv")))
      val g77 = norm(readFile(goldenRoot.resolve("tsv_region_tree/77/ADDR_OBJ.tsv")))
      assert(norm(readFile(Paths.get(s"$out/01/ADDR_OBJ.tsv"))) == g01)
      assert(norm(readFile(Paths.get(s"$out/77/ADDR_OBJ.tsv"))) == g77)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Ids of the RDDs the session holds persisted. */
  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Asserts that the parallel writer's staging for `out`, the sibling
    * `$out.__sections`, is gone. */
  private def assertNoStaging(out: String): Unit =
    assert(!Files.exists(Paths.get(s"$out.__sections")), s"staging left in $out.__sections")

  /** Runs `body`, which must throw an `E` from a dump to `out`, and checks
    * that it left no staging and no relation persisted. */
  private def assertFailsClean[E <: Throwable](out: String)(body: => Unit)(
      implicit ct: scala.reflect.ClassTag[E]): E = {
    val before = persistedIds
    val e = intercept[E](body)
    assertNoStaging(out)
    assert((persistedIds -- before).isEmpty, "a relation persisted by the call is still cached")
    e
  }

  test("parallel writer: every region and many chunks in one partition == reference bytes") {
    // coalesce(1) concatenates the scan's chunk partitions in order, so one
    // task formats several regions, each spread over many chunks
    val dfs = tableDfs(GarFixture.tables)
    assert(dfs.exists(_._2.rdd.getNumPartitions > GarFixture.regions.size))
    val out = tmp("pp_one_part")
    DumpJob.writeParallel(spark, dfs.map { case (t, df) => t -> df.coalesce(1) }, out,
      cfg("mysql", DumpJob.RegionTree))
    assertTreeEqual("mysql_region_tree", out)
  }

  test("parallel writer: input out of (region, ord) order is rejected, nothing left behind") {
    // a round-robin repartition scatters each region's rows across
    // partitions out of ord order; formatting it as is would misorder bytes
    val out = tmp("pp_rr")
    val e = assertFailsClean[IllegalArgumentException](out) {
      DumpJob.writeParallel(spark,
        tableDfs(GarFixture.tables).map { case (t, df) => t -> df.repartition(3) },
        out, cfg("tsv", DumpJob.RegionTree))
    }
    assert(e.getMessage.contains("region "), e.getMessage)
  }

  test("parallel writer: a table failing after another was staged leaves no staging or cache") {
    val Seq(first, (t2, df2)) = tableDfs(Seq("ADDR_OBJ", "HOUSES_PARAMS"))
    val c = df2.columns.head
    val failing = df2.withColumn(c,
      when(col("region") === "77", raise_error(lit("injected format failure"))).otherwise(col(c)))
    val out = tmp("pp_fail")
    assertFailsClean[Exception](out) {
      DumpJob.writeParallel(spark, Seq(first, t2 -> failing), out,
        cfg("tsv", DumpJob.RegionTree))
    }
  }

  test("parallel writer: a failed file rethrows its IOException once every other file is whole") {
    // more region files than the assembly pool's 8 threads, so some queue
    val regions = (1 to 10).map(i => f"$i%02d")
    val src = GarFixtureBig.write(tmp("pp_many_src"), regions, 40)
    val c = cfg("csv", DumpJob.RegionTree).copy(regions = regions)
    val input = Seq("ADDR_OBJ" -> GarXml.read(spark, src, "ADDR_OBJ", regions))
    val seq = tmp("pp_many_seq")
    DumpJob.write(spark, input, seq, c)
    // the first file's target is a non-empty directory, so creating it fails
    val out = tmp("pp_many")
    Files.createDirectories(Paths.get(out, regions.head, "ADDR_OBJ.csv", "occupied"))
    val e = intercept[Exception](DumpJob.writeParallel(spark, input, out, c))
    assert(e.isInstanceOf[java.io.IOException], e)
    assertNoStaging(out)
    for (r <- regions.tail) {
      val rel = s"$r/ADDR_OBJ.csv"
      assert(Files.readAllBytes(Paths.get(out, rel)).sameElements(Files.readAllBytes(Paths.get(seq, rel))),
        s"$rel differs from the sequential writer's bytes")
    }
  }

  test("parallel writer: an input whose second evaluation yields other rows is refused, nothing left behind") {
    // the skim pass sees every row; on a second sight of a row, region 77
    // drops it, so the parse pass cuts other runs than the skim pass counted
    val token = java.util.UUID.randomUUID().toString
    val firstSight = udf((region: String, ord: Long) =>
      RefParitySpec.seen.add(s"$token/$region/$ord") || region != "77").asNondeterministic()
    val input = tableDfs(Seq("ADDR_OBJ")).map { case (t, df) =>
      t -> df.where(firstSight(col("region"), col("ord")))
    }
    val out = tmp("pp_nondet")
    val e = assertFailsClean[IllegalStateException](out) {
      DumpJob.writeParallel(spark, input, out, cfg("tsv", DumpJob.RegionTree))
    }
    assert(e.getMessage.startsWith("ADDR_OBJ: partition "), e.getMessage)
    assert(Files.list(Paths.get(out)).count() == 0, "an output file was written")
  }
}

object RefParitySpec {
  /** Rows the nondeterministic input has seen, shared by the local executors. */
  val seen: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
