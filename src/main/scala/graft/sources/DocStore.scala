package graft.sources

import graft.model.Doc
import graft.plans.Lineage
import graft.synth.{DataGen, SynthGeo}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Iceberg-shaped canonical document store on Parquet.
 *
 * No Iceberg jar ships in this sandbox (`build.sbt` is offline), so the store
 * emulates the surface the engine needs from Iceberg: identity partitioning by
 * `region` (the reference's directory-as-partition layout,
 * ru_address/dump.py:12-14), a per-region manifest with row
 * counts (lineage/metrics), and partition-pruned reads. The store is one
 * [[Lineage]] table: Lineage writes it and owns its manifest.
 */
object DocStore {

  /** Schema applied on every read: partition-dir type inference would turn the
    * zero-padded region "01" into int 1 (silent key corruption); an explicit
    * schema keeps `region` a 2-digit string, exactly like the reference treats
    * region directory names (dump.py:12-14). */
  val docSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[Doc].schema

  def path(sf: Double): String = s"target/synth/sf$sf/documents"

  /** Idempotent: generate + write the sf-scale doc table unless its
    * manifest lists every region. Otherwise [[Lineage.runResumable]] heals
    * the regions the manifest does not list and writes only those, so a
    * crash mid-build regenerates just the uncommitted regions. */
  def ensure(spark: SparkSession, sf: Double): String = {
    val p = path(sf)
    def done = SynthGeo.Regions.forall(Lineage.manifest(spark, p).contains)
    if (!done) synchronized {
      // Hot-region skew handling at the storage layer: region 77 carries
      // 20x the rows; without salting it lands in one file whose single
      // row group caps downstream scan parallelism at 1 task for ~36% of
      // the data (measured: 32-core run used 7.6 cores). Salted
      // repartition spreads each region over up to 8 writer tasks and
      // Lineage's 8 MB row groups keep every file splittable.
      if (!done) Lineage.runResumable(spark, DataGen.documents(spark, sf).toDF(), p)(
        _.repartition(col("region"), pmod(hash(col("doc_id")), lit(8))))
    }
    p
  }

  /** Commits the manifest of the region-partitioned doc table at `p` as it
    * stands: its rows per region, counted in one job. */
  def writeManifest(spark: SparkSession, p: String): Unit =
    Lineage.commit(spark, p, readDf(spark, p), Map.empty)

  /** Partition-pruned read: Catalyst prunes to the listed region dirs
    * (the reference's -r region filter, command.py:66-67). */
  def readDf(spark: SparkSession, p: String, regions: Seq[String] = Nil): DataFrame = {
    val df = spark.read.schema(docSchema).parquet(p)
    if (regions.isEmpty) df else df.where(df("region").isin(regions: _*))
  }

  /**
   * Read with the span struct pruned to `spanFields` — an EXPLICIT nested
   * projection pushed to the parquet reader via the read schema. Catalyst's
   * nested-schema pruning does not reach through posexplode/higher-order
   * lambdas (measured: both headline branches read all four span subfields),
   * so branches that never touch `text` (the fat column) declare it away:
   * the scan decodes only the requested subfields.
   */
  def readDfPruned(spark: SparkSession, p: String, spanFields: Seq[String],
      regions: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.types._
    val spanStruct = docSchema("spans").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val pruned = StructType(docSchema.fields.map {
      case f if f.name == "spans" =>
        f.copy(dataType = ArrayType(
          StructType(spanStruct.fields.filter(sf => spanFields.contains(sf.name))),
          containsNull = false))
      case f => f
    })
    val df = spark.read.schema(pruned).parquet(p)
    if (regions.isEmpty) df else df.where(df("region").isin(regions: _*))
  }
}
