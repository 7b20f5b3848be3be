package graft

import graft.expr.gf
import graft.operators.{DocPipeline, KnnJoin, SpatialJoin}
import graft.sources.DocStore
import graft.synth.DataGen
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * Driver contract (SURVEY.md §7): the flagship query, one `queries` entry per
 * implemented operator, and DuckDB-runnable oracle SQL for every
 * SQL-expressible entry.
 *
 * Oracle-parity discipline: any floating-point math whose result reaches a
 * hash-compared column uses only IEEE exact-rounded ops (+,-,*,/,sqrt) or is
 * rounded; transcendentals get a boundary guard. Geospatial queries derive
 * lat/lon from integer ids by pure arithmetic so DuckDB reproduces inputs
 * bit-for-bit; engine-only geometry (PIP) is covered by rows-only checks here
 * and by the winding-number/brute-force oracles in the ScalaTest suites.
 */
object SparkEntry {

  /** Flagship: region document counts via the two-phase PIP spatial join on
    * the interleaved synthetic doc table at sf 0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val p = DocStore.ensure(spark, 0.001)
    DocPipeline.regionDocCounts(
      DocStore.readDfPruned(spark, p, Seq("kind", "text", "offset")),
      DataGen.regionPolys(spark).toDF())
  }

  // ---------------------------------------------------------------- helpers

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** sf encoded in the test-data dir name ("/root/testdata/sf0.01"). */
  def sfOf(dir: String): Double =
    "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.001)

  /** Pre-build every per-sf persisted store/index the queries touch
    * (DocStore, the IVF index, the minhash index — same parameters as the
    * queries, so their `ensure` calls cache-hit), returning build seconds
    * per store. Bench runs this BEFORE its timed loop so the artifact
    * measures queries, not first-run cache population (round-4 bench
    * carried a ~6 s index build inside q_incremental_dedup's timing).
    * Per-item fault-tolerant: a failed build reports -1 and the bench
    * still runs — the queries needing that store then fail individually
    * into the errors field, exactly as they did pre-prebuild (a broken
    * input table must never cost the whole artifact). */
  def prebuild(s: SparkSession, dir: String): Seq[(String, Double)] = {
    def timed(f: => Any): Double = {
      val t0 = System.nanoTime()
      try { f; (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => -1.0 }
    }
    Seq(
      "doc_store" -> timed(DocStore.ensure(s, sfOf(dir))),
      "ivf_index" -> timed(ivfIndex(s, dir)),
      "minhash_index" -> timed(minhashIndex(s, dir)))
  }

  /** The embeddings as (tid, vec): the IVF index's corpus. */
  private def embeddingCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id").as("tid"), col("embedding").as("vec"))

  /** The per-sf persisted IVF index over [[embeddingCorpus]]: the one
    * definition `prebuild` and the queries reading it share. */
  private def ivfIndex(s: SparkSession, dir: String): String =
    graft.operators.IvfIndex.ensure(s, sfOf(dir), embeddingCorpus(s, dir),
      kCentroids = 16, kmeansIters = 1)

  /** Every 10th document: the universe of the incremental-dedup check. */
  private def docUniverse(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").where(col("doc_id") % 10 === 0).select(col("doc_id"), col("text"))

  /** The OLD batch of a universe (all but every 40th document). */
  private def oldBatch(universe: DataFrame): DataFrame =
    universe.where(col("doc_id") % 40 =!= 0)

  /** The per-sf persisted minhash index of the old batch of [[docUniverse]]:
    * the one definition `prebuild` and `q_incremental_dedup` share. Its dir
    * is keyed on (sf, tag, plan), not on the documents, so two spellings of
    * the corpus that drift apart would silently share one index. */
  private def minhashIndex(s: SparkSession, dir: String): String =
    graft.operators.MinhashIndex.ensure(s, sfOf(dir), "old10x40",
      oldBatch(docUniverse(s, dir)), "doc_id", "text", shingleN = 3)

  /** Deterministic synthetic coordinates from an integer id — pure integer
    * arithmetic + one exact division, so Spark and DuckDB agree bit-for-bit. */
  private def derivedLat(id: Column): Column = (id * 7919L % 168000L) / 1000.0 - 84.0
  private def derivedLon(id: Column): Column = (id * 104729L % 358000L) / 1000.0 - 179.0

  private def derivedLatSql(id: String) = s"((($id * 7919) % 168000) / 1000.0) - 84.0"
  private def derivedLonSql(id: String) = s"((($id * 104729) % 358000) / 1000.0) - 179.0"

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- relational battery over the driver test data (oracle-checked) --

    "q_agg_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    "q_join_segment_revenue" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      orders.join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    "q_semi_anti_orders" -> ((s, dir) => {
      // customers with at least one order (semi) and none (anti), counted
      val orders = t(s, dir, "orders").select(col("o_custkey"))
      val customer = t(s, dir, "customer")
      val withOrders = customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left_semi")
      val withoutOrders = customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
      withOrders.select(lit("with_orders").as("bucket"), col("c_custkey"))
        .unionByName(withoutOrders.select(lit("no_orders").as("bucket"), col("c_custkey")))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    }),

    "q_window_user_latest" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
    }),

    "q_topk_parts_per_brand" -> ((s, dir) => {
      val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice").desc, col("p_partkey"))
      t(s, dir, "part")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("p_brand"), col("p_partkey"), col("rn"))
    }),

    "q_sort_limit" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(50)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
    }),

    "q_setops_years" -> ((s, dir) => {
      val o = t(s, dir, "orders").withColumn("yr", year(col("o_orderdate")))
      val y95 = o.where(col("yr") === 1995).select(col("o_custkey"))
      val y96 = o.where(col("yr") === 1996).select(col("o_custkey"))
      val both = y95.intersect(y96).withColumn("bucket", lit("both"))
      val only95 = y95.except(y96).withColumn("bucket", lit("only_1995"))
      val all = y95.union(y96).distinct().withColumn("bucket", lit("either"))
      both.unionByName(only95).unionByName(all)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    }),

    "q_scalar_battery" -> ((s, dir) => {
      t(s, dir, "part").where(col("p_partkey") <= 100)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          substring(col("p_type"), 1, 5).as("sub"),
          concat_ws("|", col("p_brand"), col("p_type")).as("cat"),
          length(col("p_name")).as("len"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("padded"),
          abs(col("p_size") - 25).as("dist25"),
          pmod(col("p_partkey") * 31, lit(97)).as("modk"),
          round(sqrt(col("p_retailprice")), 6).as("root"))
    }),

    "q_date_battery" -> ((s, dir) => {
      t(s, dir, "orders").where(col("o_orderkey") <= 200)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).as("days_since"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
    }),

    "q_pivot_flags" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .count()
        .na.fill(0L)
        .select(col("l_linestatus"), col("A").as("a"), col("N").as("n"), col("R").as("r"))
    }),

    "q_string_agg" -> ((s, dir) => {
      t(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
    }),

    "q_distinct_exact" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
    }),

    "q_approx_distinct" -> ((s, dir) => {
      // approx distinct accuracy, oracle-checked: the HLL estimate must land
      // within 5% of the exact count (rsd 0.02 -> deterministic estimate)
      t(s, dir, "lineitem")
        .agg(countDistinct(col("l_orderkey")).as("exact"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx"))
        .select(col("exact"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.05).as("within_tol"))
    }),

    // -- geospatial battery (oracle-checked via arithmetic-exact derivations) --

    "q_cell_encode" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("lat", derivedLat(col("event_id")))
        .withColumn("lon", derivedLon(col("event_id")))
        .withColumn("cell", gf.grid_cell(col("lat"), col("lon"), 7))
        .select(gf.cell_x(col("cell")).as("cx"), gf.cell_y(col("cell")).as("cy"))
        .groupBy(col("cx"), col("cy"))
        .agg(count(lit(1)).as("n"))
    }),

    "q_tile_assign" -> ((s, dir) => {
      val z = 8
      val n = 1 << z
      val df = t(s, dir, "events")
        .withColumn("lat", derivedLat(col("event_id")))
        .withColumn("lon", derivedLon(col("event_id")))
        .withColumn("tyraw",
          (lit(1.0) - log(tan(radians(col("lat"))) + lit(1.0) / cos(radians(col("lat")))) / lit(math.Pi))
            / 2.0 * n)
        // guard band: drop points within 1e-9 of a tile boundary so libm ulp
        // differences between JVM and DuckDB cannot flip the floor
        .where(least(col("tyraw") - floor(col("tyraw")), lit(1.0) - (col("tyraw") - floor(col("tyraw")))) > 1e-9)
        .withColumn("tile", gf.tile_id(col("lat"), col("lon"), z))
      df.select(
          shiftrightunsigned(col("tile"), 29).bitwiseAND(lit(0x1FFFFFFFL)).cast("int").as("tx"),
          col("tile").bitwiseAND(lit(0x1FFFFFFFL)).cast("int").as("ty"))
        .groupBy(col("tx"), col("ty"))
        .agg(count(lit(1)).as("n"))
    }),

    "q_knn" -> ((s, dir) => {
      val queries = t(s, dir, "customer").select(
        col("c_custkey").as("qid"),
        derivedLat(col("c_custkey")).as("lat"),
        derivedLon(col("c_custkey")).as("lon"))
      val targets = t(s, dir, "supplier").select(
        col("s_suppkey").as("tid"),
        derivedLat(col("s_suppkey") * 13L).as("lat"),
        derivedLon(col("s_suppkey") * 13L).as("lon"))
      // certified grid-accelerated kNN — must equal the brute-force oracle
      KnnJoin.knnJoin(queries, targets, k = 3, res = 5)
        .select(col("qid"), col("tid"), col("rn"))
    }),

    "q_haversine_bucket" -> ((s, dir) => {
      // distance-to-Moscow histogram in 500 km buckets; bucket boundary guard
      t(s, dir, "events")
        .withColumn("lat", derivedLat(col("event_id")))
        .withColumn("lon", derivedLon(col("event_id")))
        .withColumn("km", gf.haversine_m(col("lat"), col("lon"), lit(55.7558), lit(37.6173)) / 1000.0)
        .where(abs(col("km") / 500.0 - floor(col("km") / 500.0) - 0.5) < lit(0.5 - 1e-9))
        .groupBy(floor(col("km") / 500.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
    }),

    // -- interleaved-document engine queries (synthetic world; rows-only) --

    "q_region_doc_counts" -> ((s, dir) => {
      val p = DocStore.ensure(s, sfOf(dir))
      // anchors never touch media_ref: prune it at the scan (readDfPruned)
      DocPipeline.regionDocCounts(
        DocStore.readDfPruned(s, p, Seq("kind", "text", "offset")),
        DataGen.regionPolys(s).toDF())
    }),

    "q_media_tile_consistency" -> ((s, dir) => {
      val p = DocStore.ensure(s, sfOf(dir))
      DocPipeline.mediaConsistency(DocStore.readDf(s, p))
        .groupBy(col("region"), col("consistent"))
        .agg(count(lit(1)).as("n"))
    }),

    "q_span_roundtrip" -> ((s, dir) => {
      val p = DocStore.ensure(s, sfOf(dir))
      val docs = DocStore.readDf(s, p)
      val rebuilt = DocPipeline.reassemble(DocPipeline.explodeSpans(docs))
      docs.select(col("doc_id"), col("spans").as("orig"), col("region"))
        .join(rebuilt.select(col("doc_id"), col("spans").as("round")), "doc_id")
        .groupBy(col("region"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("orig") === col("round"), 1L).otherwise(0L)).as("n_roundtrip_ok"))
    }),

    // -- training-data pipeline: dedup / similarity / text analysis --

    "q_dedup_exact" -> ((s, dir) => {
      graft.operators.Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .agg(count(lit(1)).as("n_groups"),
          sum(col("dup_count")).as("n_docs"),
          sum(when(col("dup_count") > 1, 1L).otherwise(0L)).as("n_dup_groups"))
    }),

    "q_ngram_jaccard_pairs" -> ((s, dir) => {
      val sample = t(s, dir, "documents").where(col("doc_id") % 20 === 0)
      graft.operators.Dedup.ngramJaccardPairs(sample, "doc_id", "text", n = 3, tau = 0.5)
    }),

    "q_embed_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val corpus = emb.select(col("vec_id").as("tid"), col("embedding").as("vec"))
      graft.operators.Similarity.bruteTopK(queries, corpus, k = 3)
        .select(col("qid"), col("tid"), round(col("cos"), 6).as("cos6"), col("rn"))
    }),

    "q_token_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(gf.token_count(col("text")).cast("long")).as("total_tokens"))
    }),

    // The three LSH candidate queries use the q_ivf_index_parity pattern:
    // the approximate operator's output is diffed IN SPARK against an
    // independently computed exact verifier, plus planted near-identical
    // rows (SQL-reproducible edits) pin the high-similarity recall tier —
    // so every emitted column is deterministic AND DuckDB-expressible.

    "q_minhash_near_dups" -> ((s, dir) => {
      // % 20 sample: the exact inverted-index verifier is quadratic in the
      // hot-shingle document frequency, and the parity signal (planted-pair
      // recall + zero false positives) does not sharpen with a bigger sample
      val sample = t(s, dir, "documents").where(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("text"))
      // planted near-identical copies: first two chars replaced (jac ~0.97)
      val planted = sample.where(col("doc_id") % 40 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(lit("zq"), substring(col("text"), 3, 1000000)).as("text"))
      val docs = sample.unionByName(planted)
      // shingleN is PINNED to 3: the DuckDB exact verifier is 3-gram, and
      // the auto plan would widen shingles past a 30k-doc sample, silently
      // breaking the found-subset-of-exact contract. Banding + broadcast
      // choice stay auto (each zeroed knob fills independently).
      val found = graft.operators.Dedup
        .minhashLshPairs(docs, "doc_id", "text", shingleN = 3, tau = 0.5)
        .select(col("id_a"), col("id_b"))
      val exactP = graft.operators.Dedup
        .ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
        .withColumn("jac", col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
        .select(col("id_a"), col("id_b"), col("jac"))
      // precision invariant: every LSH pair passes the same exact-Jaccard
      // bar (n_extra = 0); recall invariant: the >=0.9 tier is certainly
      // banded at r=4/b=16 (miss prob ~1e-15 per pair)
      val high = when(col("jac") >= 0.9, col("e")).otherwise(0L)
      val stats = Parity.counts(Seq("id_a", "id_b"), "e" -> exactP, "f" -> found)
        .agg(Parity.size(col("e")).as("n_exact"),
          Parity.except(col("f"), col("e")).as("n_extra"),
          Parity.size(high).as("n_high"),
          Parity.except(high, col("f")).as("n_high_missed"))
      stats
    }),

    "q_simhash_near_dups" -> ((s, dir) => {
      import s.implicits._
      // %10 sample: the exact verifier below is an all-pairs Hamming join —
      // quadratic by construction — so the parity harness bounds its domain
      // (the certified-completeness claim is scale-free either way)
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .where(col("doc_id") % 10 === 0)
      // planted exact copies: simhash distance 0, certainly within hamming 3
      val docsAll = base.unionByName(base.where(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      val found = graft.operators.Dedup
        .simhashPairs(docsAll, "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"))
      // exact verifier: brute-force all-pairs Hamming over the same
      // signatures — the 4x16-bit banding certifies completeness at
      // hamming <= 3 (pigeonhole), so the symmetric diff is
      // deterministically empty and the oracle pins it
      val sh = docsAll.select(col("doc_id"), gf.simhash64(col("text")).as("sh"))
      val brute = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        .join(broadcast(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))),
          col("id_a") < col("id_b"))
        .where(gf.hamming64(col("sh_a"), col("sh_b")) <= 3)
        .select(col("id_a"), col("id_b"))
      val statsJoin = Parity.counts(Seq("id_a", "id_b"), "b" -> brute, "f" -> found)
        .agg(Parity.size(col("b")).as("n_brute"),
          Parity.symDiff(col("b"), col("f")).as("sym_diff"))
      val r = statsJoin.head()
      Seq((docsAll.count(), r.getLong(0) > 0, r.getLong(1)))
        .toDF("n_docs", "has_pairs", "sym_diff")
    }),

    "q_embedding_near_dups" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // planted near-identical vectors: power-of-two jitter computed in
      // double and rounded to float — bit-identical in Spark and DuckDB
      // (cos vs the original ~0.9999 on these unit-norm vectors)
      val planted = base.where(col("vec_id") % 25 === 0)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          transform(col("embedding"),
            (x, i) => (x.cast("double") +
              ((col("vec_id") * 31 + i) % 7 - lit(3)).cast("double") / lit(1024.0))
              .cast("float")).as("embedding"))
      val emb = base.unionByName(planted)
      val found = graft.operators.Dedup
        .embeddingPairs(emb, "vec_id", "embedding", minCos = 0.8, bands = 8)
        .select(col("id_a"), col("id_b"))
      // exact all-pairs verifier with PRECOMPUTED norms (r6): VecAlgos
      // .cosineQ recomputes both self-dot-products per pair — 3 dot
      // products per evaluated pair over n^2/2 pairs. The self-dots are
      // per-VECTOR quantities; hoisting them to the build sides leaves one
      // dot per pair. The arithmetic below reproduces cosineQ EXACTLY:
      // dotQ(a,b).toDouble / sqrt(na.toDouble * nb.toDouble) with the
      // zero-norm guard — same IEEE ops in the same order (oracle-pinned).
      val q = emb.select(col("vec_id"), gf.vec_quantize(col("embedding")).as("q"))
        .withColumn("nq", gf.vec_dot_q(col("q"), col("q")))
      val exact = q.select(col("vec_id").as("id_a"), col("q").as("q_a"), col("nq").as("na"))
        .join(broadcast(
          q.select(col("vec_id").as("id_b"), col("q").as("q_b"), col("nq").as("nb"))),
          col("id_a") < col("id_b"))
        .withColumn("cos", when(col("na") === 0L || col("nb") === 0L, lit(0.0))
          .otherwise(gf.vec_dot_q(col("q_a"), col("q_b")).cast("double") /
            sqrt(col("na").cast("double") * col("nb").cast("double"))))
        .where(col("cos") >= 0.8)
        .select(col("id_a"), col("id_b"), col("cos"))
      val high = when(col("cos") >= 0.99, col("e")).otherwise(0L)
      val stats = Parity.counts(Seq("id_a", "id_b"), "e" -> exact, "f" -> found)
        .agg(Parity.size(col("e")).as("n_exact"),
          Parity.except(col("f"), col("e")).as("n_extra"),
          Parity.size(high).as("n_high"),
          Parity.except(high, col("f")).as("n_high_missed"))
      stats
    }),

    "q_dedup_groups" -> ((s, dir) => {
      // pair -> group consolidation over the ALREADY-ORACLED exact n-gram
      // Jaccard pair set: connected components (large-star/small-star) +
      // canonical survivor; DuckDB recomputes the closure recursively
      val sample = t(s, dir, "documents").where(col("doc_id") % 20 === 0)
      val pairs = graft.operators.Dedup
        .ngramJaccardPairs(sample, "doc_id", "text", n = 3, tau = 0.5)
      graft.operators.Dedup.dedupGroups(pairs)
    }),

    "q_dedup_survivors" -> ((s, dir) => {
      // the end-to-end dedup answer: corpus in -> cleaned corpus out. The
      // surviving doc ids themselves are the oracle surface (row-for-row).
      val sample = t(s, dir, "documents").where(col("doc_id") % 20 === 0)
      val pairs = graft.operators.Dedup
        .ngramJaccardPairs(sample, "doc_id", "text", n = 3, tau = 0.5)
      graft.operators.Dedup.survivors(sample, "doc_id", pairs)
        .select(col("doc_id"))
    }),

    "q_clean_corpus" -> ((s, dir) => {
      // the WHOLE training-data cleaning pipeline in one call: exact dedup
      // -> near-dup pairs -> group consolidation -> canonical survivors ->
      // benchmark decontamination. The exact pair source makes every stage
      // DuckDB-reproducible; the surviving ids are the oracle surface.
      val docsAll = t(s, dir, "documents")
      val sample = docsAll.where(col("doc_id") % 20 === 0)
      val bench = docsAll.where(col("doc_id") % 97 === 0)
      graft.operators.Dedup.cleanCorpus(sample, "doc_id", "text", bench,
        tau = 0.5, contamN = 8, maxContamOverlap = 0.3,
        pairSource = d => graft.operators.Dedup
          .ngramJaccardPairs(d, "doc_id", "text", n = 3, tau = 0.5))
        .select(col("doc_id"))
    }),

    "q_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: docs sharing >=30% of their distinct
      // 8-grams with the (broadcast) benchmark shingle set are flagged
      val docsAll = t(s, dir, "documents")
      val bench = docsAll.where(col("doc_id") % 97 === 0)
      val rest = docsAll.where(col("doc_id") % 97 =!= 0)
      graft.operators.Dedup
        .contaminated(rest, bench, "doc_id", "text", n = 8, minOverlap = 0.3)
        .select(col("id").as("doc_id"), col("n_common"), col("n_sh"))
    }),

    "q_incremental_dedup" -> ((s, dir) => {
      // incremental dedup at rest: a NEW batch deduped against the
      // persisted minhash index of the OLD corpus must equal the full-batch
      // operator restricted to pairs involving a new doc (same plan, same
      // deterministic hash family), and every pair it emits must pass the
      // independent exact-Jaccard bar. Zeros are structural; n_exact_new
      // is recomputed by DuckDB.
      import s.implicits._
      // %10 universe / %40 new batch: the independent exact verifier below
      // is quadratic-ish in hot-shingle frequency (same bound rationale as
      // q_minhash_near_dups)
      // cache the %10 universe: all three pipelines (incremental query,
      // full-batch operator, exact verifier) scan it — one parquet decode
      // instead of three
      val universe = docUniverse(s, dir).cache()
      val newB = universe.where(col("doc_id") % 40 === 0)
      val oldB = oldBatch(universe)
      val idxDir = minhashIndex(s, dir)
      val incr = graft.operators.MinhashIndex
        .queryNew(s, idxDir, newB, "doc_id", "text", tau = 0.5)
        .select(col("id_a"), col("id_b"))
      val plan = graft.operators.MinhashIndex.readPlan(s, s"$idxDir/plan.txt")
      val full = graft.operators.Dedup.minhashLshPairs(universe, "doc_id", "text",
          shingleN = plan.shingleN, numHashes = plan.numHashes, bands = plan.bands,
          tau = 0.5)
        .where(col("id_a") % 40 === 0 || col("id_b") % 40 === 0)
        .select(col("id_a"), col("id_b"))
      // exact pairs involving a new doc, WITHOUT the full-corpus inverted
      // index: new x old via the asymmetric variant (disjoint sides, per-
      // shingle join output |new bucket| x |old bucket| instead of the
      // corpus bucket squared) plus the symmetric operator over the small
      // new batch alone — same set, ~2x less hot-shingle join volume
      val exactNew = graft.operators.Dedup
        .ngramJaccardPairsBetween(newB, oldB, "doc_id", "text", n = 3, tau = 0.5)
        .select(col("id_a"), col("id_b"))
        .unionByName(graft.operators.Dedup
          .ngramJaccardPairs(newB, "doc_id", "text", n = 3, tau = 0.5)
          .select(col("id_a"), col("id_b")))
      try {
        val statsJoin = Parity.counts(Seq("id_a", "id_b"),
            "e" -> exactNew, "i" -> incr, "fl" -> full)
          .agg(Parity.size(col("e")).as("n_exact_new"),
            Parity.except(col("i"), col("e")).as("n_incr_extra"),
            Parity.symDiff(col("i"), col("fl")).as("incr_vs_full_diff"))
        val r = statsJoin.head()
        Seq((newB.count(), r.getLong(0), r.getLong(1), r.getLong(2)))
          .toDF("n_new", "n_exact_new", "n_incr_extra", "incr_vs_full_diff")
      } finally {
        universe.unpersist()
      }
    }),

    "q_sample_split" -> ((s, dir) => {
      // deterministic (task-retry-stable, cross-engine-reproducible)
      // train/val/test assignment + an independent 25% hash sample within
      // each split — integer modular arithmetic, never rand()
      val docs = t(s, dir, "documents")
      val withSplit = graft.operators.Sampling.assignSplit(docs, "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      val sampled = graft.operators.Sampling.gate(col("doc_id"), salt = 99L) <
        lit((0.25 * graft.operators.Sampling.Mod).toLong)
      withSplit.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(sampled, 1L).otherwise(0L)).as("n_sampled"))
    }),

    "q_ann_recall" -> ((s, dir) => {
      import s.implicits._
      val queries = t(s, dir, "embeddings").where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val corpus = embeddingCorpus(s, dir)
      val brute = graft.operators.Similarity.bruteTopK(queries, corpus, k = 3)
      // explicit generous banding (2 bits/band): this corpus has NO
      // high-similarity structure (max pair cos ~0.6), so the recall
      // harness needs the wide-net small-scale setting — the auto plan
      // (bits = 0) targets near-dup selectivity at corpus scale
      val ann = graft.operators.Similarity.annTopK(queries, corpus, k = 3,
        bits = 16, bands = 8)
      // the IVF variant reuses the per-sf persisted index's quantizer
      // (IvfIndex.ensure: same kCentroids/kmeansIters) — the recall measured
      // here is the recall OF THE INDEX AT REST, and the per-run
      // sample+Lloyd rebuild disappears from the harness
      val idxDir = ivfIndex(s, dir)
      val cents = graft.operators.IvfIndex.readCentroids(s, s"$idxDir/centroids.txt")
      val ivf = graft.operators.Similarity.ivfTopKWith(queries, corpus, k = 3,
        cents, nProbe = 8)
      def pairs(df: DataFrame) = df.select(col("qid"), col("tid"))
      val statsJoin = Parity.counts(Seq("qid", "tid"),
          "exact" -> pairs(brute), "ann" -> pairs(ann), "ivf" -> pairs(ivf))
        .agg(Parity.size(col("exact")), Parity.size(col("ann")),
          Parity.intersect(col("ann"), col("exact")),
          Parity.intersect(col("ivf"), col("exact")))
      val r = statsJoin.head()
      val nExact = r.getLong(0)
      def pct(hit: Long) = if (nExact == 0) 100L
        else math.floor(hit.toDouble / nExact * 100).toLong
      Seq((pct(r.getLong(2)), pct(r.getLong(3)), nExact, r.getLong(1)))
        .toDF("recall_pct", "ivf_recall_pct", "n_exact", "n_ann")
    }),

    "q_text_profile" -> ((s, dir) =>
      graft.operators.TextAnalysis.langQualitySummary(t(s, dir, "documents"))),

    "q_multimodal_decode" -> ((s, dir) => {
      // oracle-checked invariants: per-kind counts reproduce the generator's
      // i%3 cycle, and EVERY resize plan fits the 512 box with positive dims
      // (payload decode -> header parse -> resize math, end to end)
      val media = graft.operators.Multimodal.synthMedia(s, 300)
      val decoded = graft.operators.Multimodal.decode(media)
      val resized = graft.operators.Multimodal.resizePlan(decoded, maxSide = 512)
      resized.groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("out_w") <= 512 && col("out_h") <= 512 &&
            col("out_w") > 0 && col("out_h") > 0, 1L).otherwise(0L)).as("n_fit"))
    }),

    // -- reference-conformance layer (deterministic fingerprints; rows-only) --

    "q_dump_fingerprints" -> ((s, dir) => {
      import s.implicits._
      val fixture = graft.synth.GarGen.df(s, "ADDR_OBJ", "01", 100)
      // collect the (100-row, deterministic) fixture ONCE and format all
      // four dialects from the in-memory rows (r6): formatSlice ran its own
      // toLocalIterator job per dialect — four jobs re-reading the same
      // cached rows. collect() preserves partition order exactly like
      // toLocalIterator, so the formatted bytes (and fnv64) are unchanged.
      val fields = fixture.schema.fieldNames.toSeq
      val collected = fixture.collect().toSeq
      val rows = graft.sinks.Dump.dialects.toSeq.sortBy(_._1).map { case (name, d) =>
        val text = graft.sinks.Dump.formatRows(collected.iterator, fields,
          "ADDR_OBJ", d, batchSize = 7).mkString
        (name, text.length.toLong,
          java.lang.Long.toHexString(graft.geo.TextAlgos.fnv1a64(text)))
      }
      rows.toDF("dialect", "n_chars", "fnv64")
    }),

    "q_ddl_fingerprints" -> ((s, dir) => {
      import s.implicits._
      val rows = Seq(graft.sinks.Ddl.MySql, graft.sinks.Ddl.Postgres, graft.sinks.Ddl.ClickHouse)
        .map { d =>
          val text = graft.sinks.Ddl.createAll(d)
          (d.name, graft.model.SchemaRegistry.knownTables.size.toLong, text.length.toLong,
            java.lang.Long.toHexString(graft.geo.TextAlgos.fnv1a64(text)))
        }
      rows.toDF("dialect", "n_tables", "n_chars", "fnv64")
    }),

    "q_ivf_index_parity" -> ((s, dir) => {
      // the persisted (cid-partitioned, partition-pruned) IVF index must
      // return exactly the in-memory IVF results for the same quantizer;
      // the oracle pins the counts (nProbe=8 of 16 lists holds >> k
      // candidates per query at every sf) and diff == 0. The index is
      // prebuilt ONCE per sf (IvfIndex.ensure) — the query queries the
      // index at rest instead of re-running sample + Lloyd + list write.
      import s.implicits._
      val corpus = embeddingCorpus(s, dir)
      val queries = t(s, dir, "embeddings").where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val idxDir = ivfIndex(s, dir)
      val cents = graft.operators.IvfIndex.readCentroids(s, s"$idxDir/centroids.txt")
      val persisted = graft.operators.IvfIndex.query(s, idxDir, queries,
        k = 3, nProbe = 8).select(col("qid"), col("tid"), col("rn"))
      val mem = graft.operators.Similarity.ivfTopKWith(queries, corpus,
        k = 3, cents, nProbe = 8).select(col("qid"), col("tid"), col("rn"))
      val stats = Parity.counts(Seq("qid", "tid", "rn"), "p" -> persisted, "m" -> mem)
        .agg(Parity.size(col("p")).as("n_persisted"),
          Parity.size(col("m")).as("n_memory"),
          Parity.symDiff(col("p"), col("m")).as("n_diff"))
      stats
    }),

    "q_stream_batch_parity" -> ((s, dir) => {
      // incremental streaming ingest must equal the reference's re-dump-from-
      // scratch batch semantics row for row (DeltaStream.replayParity); the
      // oracle pins the deterministic counts and diff == 0
      import s.implicits._
      val (nStream, nBatch, nDiff) = graft.streaming.DeltaStream.replayParity(s)
      Seq((nStream, nBatch, nDiff)).toDF("n_stream", "n_batch", "n_diff")
    }),

    "q_knn_addresses" -> ((s, dir) => {
      // kNN of document anchors against the address-point table (synth world).
      // 1-in-5 sample keyed on the doc SEQUENCE number (arithmetic, so the
      // DuckDB oracle reproduces the sample from the store); the oracle pins
      // kNN completeness — exactly k ranked neighbours per sampled query.
      // Result EXACTNESS (== brute force) is pinned by OperatorsSpec.
      val p = DocStore.ensure(s, sfOf(dir))
      val anchors = DocPipeline.docAnchors(
        DocStore.readDfPruned(s, p, Seq("kind", "text", "offset")))
        .where(substring_index(col("doc_id"), "-D", -1).cast("long") % 5 === 0)
        .select(col("doc_id").as("qid"), col("lat"), col("lon"))
      val addrs = DataGen.addrPoints(s, sfOf(dir)).toDF()
        .select(col("addr_id").as("tid"), col("lat"), col("lon"))
      KnnJoin.knnJoin(anchors, addrs, k = 3)
        .groupBy(col("rn")).agg(count(lit(1)).as("n"))
    })
  )

  // ---------------------------------------------------------------- oracles

  def oracleSql: Map[String, String] = Map(

    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_segment_revenue" ->
      """SELECT c_mktsegment,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q_semi_anti_orders" ->
      """SELECT bucket, count(*) AS n FROM (
        |  SELECT 'with_orders' AS bucket, c_custkey FROM customer
        |   WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  UNION ALL
        |  SELECT 'no_orders' AS bucket, c_custkey FROM customer
        |   WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |) GROUP BY bucket""".stripMargin,

    "q_window_user_latest" ->
      """SELECT event_type, count(*) AS n_users FROM (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1 GROUP BY event_type""".stripMargin,

    "q_topk_parts_per_brand" ->
      """SELECT p_brand, p_partkey, rn FROM (
        |  SELECT p_brand, p_partkey,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part
        |) WHERE rn <= 3""".stripMargin,

    "q_cell_encode" ->
      s"""SELECT CAST(floor(((lon + 180.0) / 360.0) * 128) AS INT) AS cx,
         |  CAST(floor(((lat + 90.0) / 180.0) * 128) AS INT) AS cy,
         |  count(*) AS n
         |FROM (SELECT ${derivedLatSql("event_id")} AS lat,
         |             ${derivedLonSql("event_id")} AS lon FROM events)
         |GROUP BY cx, cy""".stripMargin,

    "q_tile_assign" ->
      s"""WITH pts AS (
         |  SELECT ${derivedLatSql("event_id")} AS lat,
         |         ${derivedLonSql("event_id")} AS lon FROM events),
         |raw AS (
         |  SELECT lat, lon,
         |    ((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0) * 256 AS tyraw
         |  FROM pts)
         |SELECT CAST(floor(((lon + 180.0) / 360.0) * 256) AS INT) AS tx,
         |  CAST(floor(tyraw) AS INT) AS ty, count(*) AS n
         |FROM raw
         |WHERE least(tyraw - floor(tyraw), 1.0 - (tyraw - floor(tyraw))) > 0.000000001
         |GROUP BY tx, ty""".stripMargin,

    "q_knn" ->
      s"""WITH q AS (SELECT c_custkey AS qid,
         |    ${derivedLatSql("c_custkey")} AS lat, ${derivedLonSql("c_custkey")} AS lon
         |  FROM customer),
         |t AS (SELECT s_suppkey AS tid,
         |    ${derivedLatSql("(s_suppkey * 13)")} AS lat, ${derivedLonSql("(s_suppkey * 13)")} AS lon
         |  FROM supplier),
         |d AS (SELECT q.qid, t.tid,
         |    (q.lat - t.lat) * (q.lat - t.lat) + (q.lon - t.lon) * (q.lon - t.lon) AS dist2
         |  FROM q CROSS JOIN t),
         |r AS (SELECT qid, tid,
         |    row_number() OVER (PARTITION BY qid ORDER BY dist2, tid) AS rn FROM d)
         |SELECT qid, tid, rn FROM r WHERE rn <= 3""".stripMargin,

    "q_sort_limit" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin,

    "q_setops_years" ->
      """WITH y95 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |y96 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT bucket, count(*) AS n FROM (
        |  SELECT 'both' AS bucket, o_custkey FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
        |  UNION ALL
        |  SELECT 'only_1995' AS bucket, o_custkey FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
        |  UNION ALL
        |  SELECT 'either' AS bucket, o_custkey FROM (SELECT DISTINCT o_custkey FROM (SELECT * FROM y95 UNION ALL SELECT * FROM y96))
        |) GROUP BY bucket""".stripMargin,

    "q_scalar_battery" ->
      """SELECT p_partkey,
        |  upper(p_name) AS up, lower(p_brand) AS lo,
        |  substring(p_type, 1, 5) AS sub,
        |  concat_ws('|', p_brand, p_type) AS cat,
        |  length(p_name) AS len,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
        |  abs(p_size - 25) AS dist25,
        |  (p_partkey * 31) % 97 AS modk,
        |  round(sqrt(p_retailprice), 6) AS root
        |FROM part WHERE p_partkey <= 100""".stripMargin,

    "q_date_battery" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        |  dayofmonth(o_orderdate) AS dom,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
        |  strftime(o_orderdate, '%Y-%m') AS ym
        |FROM orders WHERE o_orderkey <= 200""".stripMargin,

    "q_pivot_flags" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,

    "q_string_agg" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    "q_distinct_exact" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_dedup_exact" ->
      """SELECT count(*) AS n_groups, CAST(sum(dup_count) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN dup_count > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
        |FROM (SELECT text, min(doc_id) keep_id, count(*) dup_count
        |      FROM documents GROUP BY text)""".stripMargin,

    "q_ngram_jaccard_pairs" ->
      """WITH sample_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0 AND length(text) >= 3),
        |sh AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 3) AS s
        |       -- static bound (range() rejects subquery args in DuckDB 1.0);
        |       -- 65535 comfortably exceeds any generated document length and
        |       -- the WHERE clause trims per-document — a doc longer than this
        |       -- would silently lose shingles, so keep it >> max(length(text))
        |       FROM sample_docs, range(1, 65536) t(i) WHERE i <= length(text) - 2),
        |counts AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) common
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b, common, ca.n_sh AS n_a, cb.n_sh AS n_b
        |FROM pairs JOIN counts ca ON ca.doc_id = id_a JOIN counts cb ON cb.doc_id = id_b
        |WHERE CAST(common AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - common AS DOUBLE) >= 0.5""".stripMargin,

    "q_embed_topk" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) qv
        |      FROM embeddings),
        |d AS (SELECT q.vec_id qid, c.vec_id tid,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.qv), p -> p[1] * p[2])) AS BIGINT) idot,
        |        CAST(list_sum(list_transform(q.qv, x -> x * x)) AS BIGINT) na,
        |        CAST(list_sum(list_transform(c.qv, x -> x * x)) AS BIGINT) nb
        |      FROM q CROSS JOIN c),
        |r AS (SELECT qid, tid,
        |        CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE CAST(idot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) END AS cos,
        |        row_number() OVER (PARTITION BY qid ORDER BY (CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE CAST(idot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) END) DESC, tid) rn
        |      FROM d)
        |SELECT qid, tid, round(cos, 6) AS cos6, rn FROM r WHERE rn <= 3""".stripMargin,

    // -- LSH parity oracles: the Spark queries emit only deterministic,
    // -- SQL-expressible quantities (exact-verifier counts + structural
    // -- zero diffs); DuckDB recomputes the exact sets independently --

    "q_minhash_near_dups" ->
      """WITH sample_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
        |all_docs AS (
        |  SELECT doc_id, text FROM sample_docs
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'zq' || substring(text, 3) FROM sample_docs WHERE doc_id % 40 = 0),
        |docs AS (SELECT doc_id, text FROM all_docs WHERE length(text) >= 3),
        |sh AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 3) AS g
        |       FROM docs, range(1, 65536) t(i) WHERE i <= length(text) - 2),
        |counts AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
        |p AS (SELECT a.doc_id ia, b.doc_id ib, count(*) c
        |      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT CAST(c AS DOUBLE) / CAST(ca.n + cb.n - c AS DOUBLE) jac
        |      FROM p JOIN counts ca ON ca.doc_id = ia JOIN counts cb ON cb.doc_id = ib)
        |SELECT CAST(count(*) FILTER (jac >= 0.5) AS BIGINT) AS n_exact,
        |  CAST(0 AS BIGINT) AS n_extra,
        |  CAST(count(*) FILTER (jac >= 0.9) AS BIGINT) AS n_high,
        |  CAST(0 AS BIGINT) AS n_high_missed
        |FROM j""".stripMargin,

    "q_simhash_near_dups" ->
      """SELECT CAST((SELECT count(*) FROM documents WHERE doc_id % 10 = 0)
        |     + (SELECT count(*) FROM documents WHERE doc_id % 50 = 0) AS BIGINT) AS n_docs,
        |  true AS has_pairs,
        |  CAST(0 AS BIGINT) AS sym_diff""".stripMargin,

    "q_embedding_near_dups" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
        |planted AS (
        |  -- the jitter lambda must see the BASE vec_id (the Spark side's
        |  -- select semantics): the shift gets a DISTINCT alias in an inner
        |  -- projection so the lambda's vec_id reference never depends on
        |  -- DuckDB's base-column-vs-lateral-alias precedence
        |  SELECT new_vec_id AS vec_id, embedding FROM (
        |    SELECT vec_id + 1000000 AS new_vec_id,
        |      list_transform(embedding, (x, i) ->
        |        CAST(CAST(x AS DOUBLE) + (((vec_id * 31 + (i - 1)) % 7) - 3) / 1024.0 AS FLOAT)) AS embedding
        |    FROM base WHERE vec_id % 25 = 0)),
        |allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
        |q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) qv FROM allv),
        |d AS (SELECT a.vec_id ia, b.vec_id ib,
        |        CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS BIGINT) idot,
        |        CAST(list_sum(list_transform(a.qv, x -> x * x)) AS BIGINT) na,
        |        CAST(list_sum(list_transform(b.qv, x -> x * x)) AS BIGINT) nb
        |      FROM q a JOIN q b ON a.vec_id < b.vec_id),
        |c AS (SELECT CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE CAST(idot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) END cos FROM d)
        |SELECT CAST(count(*) FILTER (cos >= 0.8) AS BIGINT) AS n_exact,
        |  CAST(0 AS BIGINT) AS n_extra,
        |  CAST(count(*) FILTER (cos >= 0.99) AS BIGINT) AS n_high,
        |  CAST(0 AS BIGINT) AS n_high_missed
        |FROM c""".stripMargin,

    "q_dedup_groups" ->
      """WITH RECURSIVE sample_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0 AND length(text) >= 3),
        |sh AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 3) AS g
        |       FROM sample_docs, range(1, 65536) t(i) WHERE i <= length(text) - 2),
        |counts AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT ia AS id_a, ib AS id_b FROM (
        |    SELECT a.doc_id ia, b.doc_id ib, count(*) c
        |    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) p
        |  JOIN counts ca ON ca.doc_id = ia JOIN counts cb ON cb.doc_id = ib
        |  WHERE CAST(c AS DOUBLE) / CAST(ca.n + cb.n - c AS DOUBLE) >= 0.5),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |closure(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT c.u, e.v FROM closure c JOIN edges e ON c.v = e.u WHERE e.v <> c.u),
        |comp AS (SELECT u AS id, least(u, min(v)) AS component FROM closure GROUP BY u)
        |SELECT component AS group_id, min(id) AS keep_id, count(*) AS n_members
        |FROM comp GROUP BY component""".stripMargin,

    "q_dedup_survivors" ->
      """WITH RECURSIVE sample_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
        |docs3 AS (SELECT doc_id, text FROM sample_docs WHERE length(text) >= 3),
        |sh AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 3) AS g
        |       FROM docs3, range(1, 65536) t(i) WHERE i <= length(text) - 2),
        |counts AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT ia AS id_a, ib AS id_b FROM (
        |    SELECT a.doc_id ia, b.doc_id ib, count(*) c
        |    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) p
        |  JOIN counts ca ON ca.doc_id = ia JOIN counts cb ON cb.doc_id = ib
        |  WHERE CAST(c AS DOUBLE) / CAST(ca.n + cb.n - c AS DOUBLE) >= 0.5),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |closure(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT c.u, e.v FROM closure c JOIN edges e ON c.v = e.u WHERE e.v <> c.u),
        |comp AS (SELECT u AS id, least(u, min(v)) AS component FROM closure GROUP BY u)
        |SELECT doc_id FROM sample_docs
        |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)""".stripMargin,

    "q_clean_corpus" ->
      """WITH RECURSIVE sample0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
        |dedup AS (SELECT min(doc_id) AS doc_id, text FROM sample0 GROUP BY text),
        |docs3 AS (SELECT doc_id, text FROM dedup WHERE length(text) >= 3),
        |sh AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 3) AS g
        |       FROM docs3, range(1, 65536) t(i) WHERE i <= length(text) - 2),
        |counts AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT ia AS id_a, ib AS id_b FROM (
        |    SELECT a.doc_id ia, b.doc_id ib, count(*) c
        |    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) p
        |  JOIN counts ca ON ca.doc_id = ia JOIN counts cb ON cb.doc_id = ib
        |  WHERE CAST(c AS DOUBLE) / CAST(ca.n + cb.n - c AS DOUBLE) >= 0.5),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |closure(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT c.u, e.v FROM closure c JOIN edges e ON c.v = e.u WHERE e.v <> c.u),
        |comp AS (SELECT u AS id, least(u, min(v)) AS component FROM closure GROUP BY u),
        |kept AS (SELECT doc_id, text FROM dedup
        |         WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)),
        |bdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0 AND length(text) >= 8),
        |bsh AS (SELECT DISTINCT substring(text, CAST(i AS INT), 8) g
        |        FROM bdocs, range(1, 65536) t(i) WHERE i <= length(text) - 7),
        |ksh AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 8) g
        |        FROM kept, range(1, 65536) t(i)
        |        WHERE length(text) >= 8 AND i <= length(text) - 7),
        |tot AS (SELECT doc_id, count(*) n_sh FROM ksh GROUP BY doc_id),
        |hit AS (SELECT doc_id, count(*) n_common FROM ksh
        |        WHERE g IN (SELECT g FROM bsh) GROUP BY doc_id),
        |dirty AS (SELECT t.doc_id FROM tot t JOIN hit h USING (doc_id)
        |          WHERE CAST(h.n_common AS DOUBLE) / CAST(t.n_sh AS DOUBLE) >= 0.3)
        |SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin,

    "q_decontaminate" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE length(text) >= 8),
        |bench AS (SELECT DISTINCT substring(text, CAST(i AS INT), 8) g
        |          FROM docs, range(1, 65536) t(i) WHERE i <= length(text) - 7 AND doc_id % 97 = 0),
        |dsh AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 8) g
        |        FROM docs, range(1, 65536) t(i) WHERE i <= length(text) - 7 AND doc_id % 97 <> 0),
        |tot AS (SELECT doc_id, count(*) n_sh FROM dsh GROUP BY doc_id),
        |hit AS (SELECT doc_id, count(*) n_common FROM dsh WHERE g IN (SELECT g FROM bench) GROUP BY doc_id)
        |SELECT t.doc_id, h.n_common, t.n_sh
        |FROM tot t JOIN hit h ON t.doc_id = h.doc_id
        |WHERE CAST(h.n_common AS DOUBLE) / CAST(t.n_sh AS DOUBLE) >= 0.3""".stripMargin,

    "q_incremental_dedup" ->
      """WITH universe AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0 AND length(text) >= 3),
        |sh AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 3) AS g
        |       FROM universe, range(1, 65536) t(i) WHERE i <= length(text) - 2),
        |counts AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
        |p AS (SELECT a.doc_id ia, b.doc_id ib, count(*) c
        |      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT ia, ib, CAST(c AS DOUBLE) / CAST(ca.n + cb.n - c AS DOUBLE) jac
        |      FROM p JOIN counts ca ON ca.doc_id = ia JOIN counts cb ON cb.doc_id = ib)
        |SELECT CAST((SELECT count(*) FROM documents WHERE doc_id % 40 = 0) AS BIGINT) AS n_new,
        |  CAST(count(*) FILTER (jac >= 0.5 AND (ia % 40 = 0 OR ib % 40 = 0)) AS BIGINT) AS n_exact_new,
        |  CAST(0 AS BIGINT) AS n_incr_extra,
        |  CAST(0 AS BIGINT) AS incr_vs_full_diff
        |FROM j""".stripMargin,

    // thresholds are PRE-FLOORED integers: Scala's (rate*Mod).toLong
    // truncates while DuckDB's CAST(double AS BIGINT) rounds — a literal
    // keeps both engines on the same side of every gate boundary.
    // 0.8*M=1717986917, 0.9*M=1932735282, 0.25*M=536870911 (M=2^31-1).
    "q_sample_split" ->
      """WITH x AS (SELECT doc_id,
        |    ((doc_id % 2147483647) * 48271 + 7) % 2147483647 AS x7,
        |    ((doc_id % 2147483647) * 48271 + 99) % 2147483647 AS x99
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    (((x7 * x7) % 2147483647) * 48271) % 2147483647 AS gate7,
        |    (((x99 * x99) % 2147483647) * 48271) % 2147483647 AS gate99
        |  FROM x)
        |SELECT CASE WHEN gate7 < 1717986917 THEN 'train'
        |            WHEN gate7 < 1932735282 THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN gate99 < 536870911 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM g GROUP BY 1""".stripMargin,

    "q_token_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY source""".stripMargin,

    // -- interleaved doc-store oracles: DuckDB reads the engine's own
    // -- partitioned parquet store; __DOCSTORE__ is substituted by Verify
    // -- with the absolute store path for the run's scale factor. The region
    // -- key is extracted from the partition path as TEXT (hive type
    // -- inference would corrupt zero-padded keys: "01" -> 1).

    "q_region_doc_counts" ->
      """SELECT regexp_extract(filename, 'region=([^/]+)', 1) AS poly_id,
        |  count(*) AS doc_count
        |FROM read_parquet('__DOCSTORE__/*/*.parquet', filename=1)
        |WHERE len(list_filter(spans, s -> s.kind = 'text')) > 0
        |GROUP BY 1""".stripMargin,

    "q_span_roundtrip" ->
      """SELECT regexp_extract(filename, 'region=([^/]+)', 1) AS region,
        |  count(*) AS n_docs, count(*) AS n_roundtrip_ok
        |FROM read_parquet('__DOCSTORE__/*/*.parquet', filename=1)
        |GROUP BY 1""".stripMargin,

    "q_media_tile_consistency" ->
      """SELECT region, true AS consistent, count(*) AS n FROM (
        |  SELECT regexp_extract(filename, 'region=([^/]+)', 1) AS region, u.s AS s
        |  FROM read_parquet('__DOCSTORE__/*/*.parquet', filename=1), UNNEST(spans) AS u(s))
        |WHERE s.kind = 'media' AND s.media_ref LIKE 'tile/%'
        |GROUP BY region""".stripMargin,

    "q_approx_distinct" ->
      """SELECT count(DISTINCT l_orderkey) AS exact, true AS within_tol
        |FROM lineitem""".stripMargin,

    "q_stream_batch_parity" ->
      """SELECT CAST(200 AS BIGINT) AS n_stream, CAST(200 AS BIGINT) AS n_batch,
        |  CAST(0 AS BIGINT) AS n_diff""".stripMargin,

    "q_ivf_index_parity" ->
      """SELECT CAST(3 * (SELECT count(*) FROM embeddings WHERE vec_id % 50 = 0) AS BIGINT) AS n_persisted,
        |  CAST(3 * (SELECT count(*) FROM embeddings WHERE vec_id % 50 = 0) AS BIGINT) AS n_memory,
        |  CAST(0 AS BIGINT) AS n_diff""".stripMargin,

    "q_knn_addresses" ->
      """WITH q AS (
        |  SELECT doc_id FROM read_parquet('__DOCSTORE__/*/*.parquet')
        |  WHERE CAST(str_split(doc_id, '-D')[2] AS BIGINT) % 5 = 0)
        |SELECT rn, count(*) AS n
        |FROM q CROSS JOIN (VALUES (1), (2), (3)) t(rn)
        |GROUP BY rn""".stripMargin,

    "q_multimodal_decode" ->
      """SELECT CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  count(*) AS n, count(*) AS n_fit
        |FROM range(0, 300) t(i)
        |GROUP BY 1""".stripMargin,

    "q_haversine_bucket" ->
      s"""WITH pts AS (
         |  SELECT ${derivedLatSql("event_id")} AS lat,
         |         ${derivedLonSql("event_id")} AS lon FROM events),
         |d AS (SELECT 2.0 * 6371000.0 * asin(least(1.0, sqrt(
         |    sin(radians(55.7558 - lat) / 2) * sin(radians(55.7558 - lat) / 2) +
         |    cos(radians(lat)) * cos(radians(55.7558)) *
         |    sin(radians(37.6173 - lon) / 2) * sin(radians(37.6173 - lon) / 2)))) / 1000.0 AS km
         |  FROM pts)
         |SELECT CAST(floor(km / 500.0) AS BIGINT) AS bucket, count(*) AS n
         |FROM d
         |WHERE abs(km / 500.0 - floor(km / 500.0) - 0.5) < 0.499999999
         |GROUP BY bucket""".stripMargin
  )
}
