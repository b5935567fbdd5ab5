package graft

/** Scale-discipline guards over EVERY declared query plan: the
  * properties that keep a plan viable at 1000 executors must hold in the
  * plan text, not in code review. Runs at sf0.001 (plan shape, not
  * timing).
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val frames: Map[String, org.apache.spark.sql.DataFrame] =
    SparkEntry.queries.map { case (name, fn) => name -> fn(spark, dir) }

  private lazy val plans: Map[String, String] =
    frames.map { case (name, df) =>
      name -> df.queryExecution.executedPlan.toString
    }

  test("no query plan contains a CartesianProduct") {
    // BroadcastNestedLoopJoin against a broadcast-small side (the top-k
    // query set) is acceptable; an unbroadcast CartesianProduct is never.
    plans.foreach { case (name, plan) =>
      assert(!plan.contains("CartesianProduct"),
        s"$name has a cartesian product:\n$plan")
    }
  }

  test("no query plan contains a partition-less (global) Window") {
    // Window.orderBy without partitionBy moves ALL rows to one task —
    // the canonical scale-killer. A final orderBy (range-partitioned
    // global sort) is fine; an unpartitioned Window never is.
    frames.foreach { case (name, df) =>
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"$name has a global (single-partition) window: ${bad.mkString}")
    }
  }

  test("star join broadcasts its dimension sides (q02)") {
    assert(plans("q02_revenue_by_nation").contains("BroadcastHashJoin"))
  }

  test("flagship dim join broadcasts the dim_satellites side (q47)") {
    assert(plans("q47_latest_state_dim_join").contains("BroadcastHashJoin"),
      plans("q47_latest_state_dim_join"))
  }

  test("top-k compiles to TakeOrderedAndProject (q03)") {
    assert(plans("q03_topk_orders_by_revenue").contains("TakeOrderedAndProject"))
  }

  test("top-n per group gets a map-side WindowGroupLimit (q04)") {
    // rank-filter (row_number <= n) must shrink to <= n rows per group
    // per partition BEFORE the shuffle (Partial) and again after
    // (Final) — without it the window shuffles every row
    val p = plans("q04_top2_orders_per_customer")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
  }

  test("bm25 cuts with TakeOrdered, never a global sort-limit (q84)") {
    assert(plans("q84_docs_bm25_topk").contains("TakeOrderedAndProject"),
      plans("q84_docs_bm25_topk"))
  }

  test("knn neighbor rank gets a map-side WindowGroupLimit (q92)") {
    val p = plans("q92_embed_knn_classify")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("dsir cuts with TakeOrdered and scores via literal LM maps (q105)") {
    // the draw is top-k by sample key — a global sort-limit would sort
    // the whole pool; and since r15 the two hashed-LM model tables
    // (bucket-bounded ≤ 256 entries by design) ride the scoring plan as
    // LITERAL maps, so the plan must contain NO model join at all —
    // scoring is one featurize+aggregate pass. The only join left is
    // the empty-doc restore (corpus ids against the weights aggregate).
    val p = plans("q105_docs_dsir_resample")
    assert(p.contains("TakeOrderedAndProject"), p)
    // at most ONE join in the whole plan — the empty-doc restore; a
    // model JOIN reappearing means the literal-map form regressed
    assert("Join".r.findAllIn(p).size <= 1, p)
    // exactly one Generate (the single featurization pass) in the
    // whole plan — the r14 shape had up to 7 at runtime
    assert("Generate".r.findAllIn(p).size <= 1, p)
  }

  test("vocabulary-bounded grids broadcast, pinned (q91, q84)") {
    // naive-bayes scoring joins postings against the |vocab|×|classes|
    // likelihood grid; bm25 joins postings against per-term df — both
    // sides are vocabulary-bounded and must broadcast by HINT, not by
    // the auto-threshold's estimate of a multi-join subtree
    assert(plans("q91_docs_naive_bayes").contains("BroadcastHashJoin"),
      plans("q91_docs_naive_bayes"))
    assert(plans("q84_docs_bm25_topk").contains("BroadcastHashJoin"),
      plans("q84_docs_bm25_topk"))
  }

  test("hybrid fusion acts on broadcast candidate lists only (q121)") {
    // the dense retriever broadcasts the query-vector set; the fused
    // rank windows partition by (query, retriever) / query — no global
    // window (covered suite-wide) and no corpus-sized exchange feeding
    // the fusion: the BM25 side shuffles only query-term postings
    val p = plans("q121_docs_hybrid_rrf")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("hard-negative mining broadcasts queries in and candidates " +
      "back, corpus never shuffles (q125)") {
    val p = plans("q125_embed_hard_negatives")
    // candidate pool + query-label attach both ride as broadcasts
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // the corpus side reaches both joins scan-direct: no exchange may
    // sit between the parquet scan and the first join
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("anti-join dedup stays a hash join, never a loop join (q26)") {
    val p = plans("q26_telemetry_antijoin_dedup")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("NestedLoop"), p)
  }

  test("parquet scans prune columns (q01 reads only what it aggregates)") {
    val p = plans("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"),
      s"q01 scan reads unused columns: $readSchema")
  }

  test("filter pushdown reaches the scan (q02 order-date range)") {
    val p = plans("q02_revenue_by_nation")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"), p)
  }

  test("runtime bloom-filter join pruning stays enabled (100 TB scan cut)") {
    // A selective dim filter on a SHUFFLE join injects a bloom filter
    // that prunes the fact side before the exchange. The testdata is
    // below the default application-side size threshold, so drop the
    // thresholds for the assertion — what this pins is that nothing in
    // GraftSession's config disables InjectRuntimeFilter, which at real
    // scan sizes fires with stock thresholds.
    val conf = spark.conf
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevScan = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      assert(conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") === "true")
      import spark.implicits._
      val li = Tables.load(spark, dir, "lineitem")
      val ord = Tables.load(spark, dir, "orders").where($"o_totalprice" > 400000)
      val j = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus").count()
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("bloom_filter_agg"), opt)
      assert(opt.contains("might_contain"), opt)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", prevScan)
    }
  }

  test("warehouse scans publish manifest row counts as CBO statistics: " +
      "a 3-table star join broadcasts both dims with NO ANALYZE, and " +
      "plan stats carry the exact manifest counts") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val whDir = graft.util.Scratch.dir("graft-cbo-").toString
    val wh = new graft.pipeline.Warehouse(spark, s"$whDir/wh", specs = Map(
      "fact" -> graft.pipeline.Warehouse.TableSpec(StructType(Seq(
        StructField("k1", LongType), StructField("k2", LongType),
        StructField("v", DoubleType)))),
      "dim1" -> graft.pipeline.Warehouse.TableSpec(StructType(Seq(
        StructField("k1", LongType), StructField("a", StringType)))),
      "dim2" -> graft.pipeline.Warehouse.TableSpec(StructType(Seq(
        StructField("k2", LongType), StructField("b", StringType))))))
    wh.bootstrap()
    wh.append("fact", spark.range(0, 50000).toDF("id").select(
      (col("id") % 20).as("k1"), (col("id") % 10).as("k2"),
      col("id").cast("double").as("v")))
    wh.append("dim1", spark.range(0, 20).toDF("k1")
      .withColumn("a", concat(lit("a"), col("k1"))))
    wh.append("dim2", spark.range(0, 10).toDF("k2")
      .withColumn("b", concat(lit("b"), col("k2"))))
    // exact manifest counts reach the logical plan's statistics — the
    // ANALYZE-parity surface (cbo on in GraftSession, zero ANALYZE run)
    assert(spark.conf.get("spark.sql.cbo.enabled") === "true")
    def scanStats(t: String) = {
      val lr = wh.read(t).queryExecution.optimizedPlan.collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
      }.get
      lr.stats
    }
    assert(scanStats("fact").rowCount === Some(BigInt(50000)))
    assert(scanStats("dim1").rowCount === Some(BigInt(20)))
    assert(scanStats("dim2").rowCount === Some(BigInt(10)))
    // the star join: both dims broadcast, the fact side never does
    val j = wh.read("fact")
      .join(wh.read("dim1"), "k1")
      .join(wh.read("dim2"), "k2")
      .groupBy("a", "b").agg(sum("v").as("total"))
    assert(j.collect().length === 20 * 10 / 10) // 20 (k1,k2) combos
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    def joins(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case b: BroadcastHashJoinExec => Seq(b)
      case s: SortMergeJoinExec => Seq(s)
      case s: ShuffledHashJoinExec => Seq(s)
      case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
      case q: QueryStageExec => joins(q.plan)
    }.flatten
    val js = joins(j.queryExecution.executedPlan)
    assert(js.size === 2 && js.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      s"expected exactly 2 broadcast joins:\n${j.queryExecution.executedPlan}")
    // an entry-subset read (readRange) publishes the SUBSET's stats,
    // and results stay correct under the stats-bearing relation
    val byK = wh.readRange("fact", "k1", 0, 5)
    assert(byK.where(col("k1") <= 5).count() ===
      wh.read("fact").where(col("k1") <= 5).count())
  }

  test("a COLD lazy-planned fact publishes per-column statistics " +
      "(NDV + min/max, folded distributed): the 3-table star join " +
      "broadcasts both dims with no cached snapshot and no ANALYZE") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val whDir = graft.util.Scratch.dir("graft-lazycbo-").toString
    val wh = new graft.pipeline.Warehouse(spark, s"$whDir/wh",
      checkpointInterval = 1, specs = Map(
        "fact" -> graft.pipeline.Warehouse.TableSpec(StructType(Seq(
            StructField("k1", LongType), StructField("k2", LongType),
            StructField("v", DoubleType))),
          statColumns = Seq("k1", "k2"), ndvColumns = Seq("k1", "k2")),
        "dim1" -> graft.pipeline.Warehouse.TableSpec(StructType(Seq(
          StructField("k1", LongType), StructField("a", StringType)))),
        "dim2" -> graft.pipeline.Warehouse.TableSpec(StructType(Seq(
          StructField("k2", LongType), StructField("b", StringType))))))
    wh.columnarThreshold = 1L
    wh.bootstrap()
    wh.append("fact", spark.range(0, 50000).toDF("id").select(
      (col("id") % 20).as("k1"), (col("id") % 10).as("k2"),
      col("id").cast("double").as("v")))
    wh.append("dim1", spark.range(0, 20).toDF("k1")
      .withColumn("a", concat(lit("a"), col("k1"))))
    wh.append("dim2", spark.range(0, 10).toDF("k2")
      .withColumn("b", concat(lit("b"), col("k2"))))
    val v = wh.versions("fact").max
    graft.pipeline.Warehouse.invalidateCached(s"$whDir/wh#fact#")

    // the COLD fact plans lazy, with column statistics at eager parity
    val df = wh.read("fact")
    val lr = df.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.get
    assert(lr.relation
      .asInstanceOf[org.apache.spark.sql.execution.datasources
        .HadoopFsRelation]
      .location.isInstanceOf[graft.pipeline.LazyManifestFileIndex],
      "the cold fact must plan through the lazy index")
    assert(lr.stats.rowCount === Some(BigInt(50000)))
    val byName = lr.stats.attributeStats.map { case (attr, st) =>
      attr.name -> st }
    assert(byName.contains("k1") && byName.contains("k2"),
      s"lazy plan must publish column stats, got ${byName.keys}")
    // HLL at 20/10 distincts is exact; min/max rode the columnar fold
    assert(byName("k1").distinctCount === Some(BigInt(20)))
    assert(byName("k2").distinctCount === Some(BigInt(10)))
    assert(byName("k1").min === Some(0L) && byName("k1").max === Some(19L))
    assert(graft.pipeline.Warehouse.snapshots.get(
      wh.currentCacheKey("fact", v)).isEmpty,
      "publishing lazy column stats must not fold the list driver-side")

    // the star join from the cold fact: both dims broadcast
    graft.pipeline.Warehouse.invalidateCached(s"$whDir/wh#fact#")
    val j = wh.read("fact")
      .join(wh.read("dim1"), "k1")
      .join(wh.read("dim2"), "k2")
      .groupBy("a", "b").agg(sum("v").as("total"))
    assert(j.collect().length === 20)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    def joins(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case b: BroadcastHashJoinExec => Seq(b)
      case s: SortMergeJoinExec => Seq(s)
      case s: ShuffledHashJoinExec => Seq(s)
      case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
      case q: QueryStageExec => joins(q.plan)
    }.flatten
    val js = joins(j.queryExecution.executedPlan)
    assert(js.size === 2 && js.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      s"expected exactly 2 broadcast joins:\n${j.queryExecution.executedPlan}")
    assert(graft.pipeline.Warehouse.snapshots.get(
      wh.currentCacheKey("fact", v)).isEmpty)

    // the NDV came from sketches EMBEDDED in the columnar checkpoint,
    // not from per-file sidecar opens: with the sidecar dir GONE the
    // cold plan still publishes the same estimates
    def rmTree(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(c => rmTree(c))
      java.nio.file.Files.delete(p)
    }
    val ndvDir = java.nio.file.Paths.get(s"$whDir/wh", "fact", "_ndvidx")
    assert(java.nio.file.Files.exists(ndvDir))
    rmTree(ndvDir)
    graft.pipeline.Warehouse.invalidateCached(s"$whDir/wh#fact#")
    val lr2 = wh.read("fact").queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.get
    val byName2 = lr2.stats.attributeStats.map { case (attr, st) =>
      attr.name -> st }
    assert(byName2("k1").distinctCount === Some(BigInt(20)) &&
      byName2("k2").distinctCount === Some(BigInt(10)),
      "embedded checkpoint sketches must serve NDV without the " +
        "sidecar directory")
  }

  test("a COLD lazy plan over a columnar checkpoint WITH deltas above " +
      "it (appends and a delete) publishes exactly the eager " +
      "statsRelation's NDV and min/max for the same version") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val whDir = graft.util.Scratch.dir("graft-lazydelta-").toString
    val wh = new graft.pipeline.Warehouse(spark, s"$whDir/wh",
      checkpointInterval = 4, specs = Map(
        "fact" -> graft.pipeline.Warehouse.TableSpec(StructType(Seq(
            StructField("k1", LongType), StructField("k2", LongType),
            StructField("v", DoubleType))),
          statColumns = Seq("k1", "k2"), ndvColumns = Seq("k1", "k2"))))
    wh.columnarThreshold = 1L
    wh.bootstrap()
    // v2..v6: batch i carries k2 ∈ [i, i+9]; v4 is the checkpoint whose
    // .mfp holds batches 0-2, v5/v6 are append deltas above it
    (0 until 5).foreach { i =>
      wh.append("fact", spark.range(i * 1000L, (i + 1) * 1000L).toDF("id")
        .select((col("id") % (20 + i)).as("k1"),
          (col("id") % 10 + i).as("k2"), col("id").cast("double").as("v")))
    }
    // v7: a copy-on-write delete of batch 0's k2 = 0 rows — a delta
    // remove of checkpoint entries plus their rewritten re-adds
    wh.delete("fact", col("k2") === 0L)
    val v = wh.versions("fact").max
    assert(v === 7L)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$whDir/wh", "fact", "_manifests", "v000000000004.mfp")))
    def planned(): (Boolean, Map[String, (Option[BigInt], Option[Any],
        Option[Any])]) = {
      val lr = wh.read("fact").queryExecution.optimizedPlan.collectFirst {
        case l: LogicalRelation => l
      }.get
      (lr.relation.asInstanceOf[HadoopFsRelation].location
        .isInstanceOf[graft.pipeline.LazyManifestFileIndex],
        lr.stats.attributeStats.map { case (a, st) =>
          a.name -> ((st.distinctCount, st.min, st.max)) }.toMap)
    }
    graft.pipeline.Warehouse.invalidateCached(s"$whDir/wh#fact#")
    val (coldLazy, cold) = planned()
    assert(coldLazy, "the cold fact must plan through the lazy index")
    assert(graft.pipeline.Warehouse.snapshots.get(
      wh.currentCacheKey("fact", v)).isEmpty)
    wh.loadAt("fact", v) // the eager fold serves the next plan
    val (eagerLazy, eager) = planned()
    assert(!eagerLazy, "a cached snapshot must plan eager")
    assert(cold.keySet === Set("k1", "k2"))
    assert(cold("k2")._2 === Some(1L) && cold("k2")._3 === Some(13L))
    assert(cold === eager)
  }
}
