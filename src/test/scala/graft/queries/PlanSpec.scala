package graft.queries

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: these assertions pin the properties that
  * make the engine viable at 100 TB — column pruning reaching the parquet
  * scan, dimension joins broadcasting, codegen covering the hot path.
  * They are tests so a regression (e.g. a refactor that blocks pushdown)
  * fails CI, not a code review.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The AQE-final physical plan only — an executed AdaptiveSparkPlan
    * stringifies BOTH its final and initial plans, so node COUNTS over
    * the raw string double up.
    */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    val s = executedPlan(df)
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  test("derived-graph scan prunes lineitem to exactly the 3 id columns") {
    val plan = executedPlan(GraphQueries.edgesDf(spark, dir))
    val readSchema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(readSchema.isDefined, s"no parquet ReadSchema in:\n$plan")
    val cols = readSchema.get.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("l_partkey", "l_suppkey", "l_linenumber"),
      s"scan reads $cols — pruning regressed")
  }

  test("filters on the pages table push down to the parquet scan") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("lang") === "en").select("doc_id", "n_chars")
    val plan = executedPlan(docs)
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      s"filter not pushed:\n$plan")
    val readSchema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).get.group(1)
    assert(!readSchema.contains("text"), "unused wide text column not pruned")
  }

  test("q_join_agg broadcasts the nation dimension") {
    val plan = executedPlan(RelationalQueries.joinAgg(spark, dir))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"nation join did not broadcast:\n$plan")
  }

  test("text operators are expression-only (codegen span, no UDF hot path)") {
    val plan = executedPlan(TextQueries.quality(spark, dir))
    // "*(n)" prefixes mark whole-stage-codegen stages in the plan string;
    // the higher-order-function projection itself is interpreted by Spark
    // design (HOFs have no codegen), which still beats any UDF.
    assert(plan.contains("*("), s"no codegen stage at all:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"UDF leaked into the text hot path:\n$plan")
  }

  test("HLL scalar surface is native expressions — no ScalaUDF in the HyperBall superstep shape") {
    import org.apache.spark.sql.functions._
    import graft.functions.Hll
    import spark.implicits._
    // The exact per-superstep dataflow shape of HyperBall.run: init →
    // gather-merge agg → merge with own regs → count.
    val st = Seq(1L, 2L, 3L).toDF("id")
      .select($"id", Hll.hllInit(6)($"id").as("regs"))
    val gathered = st.select($"id", $"regs".as("gregs"))
    val step = st.join(gathered, Seq("id"), "left")
      .select($"id", Hll.hllMerge2($"regs", $"gregs").as("regs"))
      .select($"id", Hll.hllCount($"regs").as("cnt"))
    // Execute first: AQE finalizes the physical plan (and its codegen
    // stage markers) only on execution.
    val got = step.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val plan = executedPlan(step)
    assert(!plan.contains("ScalaUDF"), s"HLL scalar path still uses ScalaUDF:\n$plan")
    assert(plan.contains("*("), s"no whole-stage codegen span:\n$plan")
    Seq(1L, 2L, 3L).foreach { v =>
      val expect = graft.functions.HllLogic.count(graft.functions.HllLogic.init(v, 6))
      assert(math.abs(got(v) - expect) < 1e-12, s"vertex $v")
    }
  }

  test("hll_*/vec_* are SQL-registered via SparkSessionExtensions") {
    val est = spark.sql(
      "SELECT hll_count(hll_merge2(hll_init(1L), hll_init(2L))) AS c").head().getDouble(0)
    import graft.functions.HllLogic
    val want = HllLogic.count(HllLogic.merge(HllLogic.init(1L, 6), HllLogic.init(2L, 6)))
    assert(math.abs(est - want) < 1e-12)
    val d = spark.sql(
      "SELECT vec_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
    // array<double> literals (the natural SQL spelling) dispatch to the
    // double kernel — getFloat over 8-byte slots would silently return
    // garbage; and plain-int hll_init ids are cast, not CCE'd.
    val dd = spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(dd == 11.0)
    val nd = spark.sql("SELECT vec_norm(array(3.0D, 4.0D)) AS n").head().getDouble(0)
    assert(nd == 5.0)
    val estInt = spark.sql(
      "SELECT hll_count(hll_merge2(hll_init(1), hll_init(2))) AS c").head().getDouble(0)
    assert(math.abs(estInt - want) < 1e-12)
    // unsupported element types fail ANALYSIS, not silently compute
    val err = intercept[Exception](spark.sql("SELECT vec_norm(array(1, 2))").collect())
    assert(err.getMessage.contains("vec_norm"), err.getMessage)
  }

  test("HITS half-step gathers through the persisted adjacency — no arc-side shuffle") {
    import graft.operators.RankLoop
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    object Plans extends AdaptiveSparkPlanHelper
    val g = graft.core.Graph.fromPairs(spark, graft.Fixtures.erdosRenyi(80, 0.08, 7))
    val state = g.vertices.toDF("id").select(col("id"), lit(1.0).as("x"))
    // The rank family's one gather, in both directions: forward (PageRank,
    // Katz, eigenvector, the HITS a-step) and transpose (the h-step).
    for ((dir, adj) <- Seq("forward" -> g.adjacency, "transpose" -> g.transposeAdjacency)) {
      adj.count()
      val step = RankLoop.gather(RankLoop.adjacency(adj), state, col("x") / col("deg"))
      step.collect() // AQE finalizes the physical plan on execution
      val exec = step.queryExecution.executedPlan
      val plan = exec.toString
      // The r3 defect: the h-step joined a flat arc table on `dst`, which
      // re-shuffled all E arc rows every half-step (an Exchange partitioned
      // on dst). The gather goes through the adjacency (already partitioned
      // by ITS src), so only the 16-byte (id, score) state and the
      // partial-agg output may shuffle: no Exchange partitions on a column
      // of the adjacency scan.
      assert(!plan.contains("hashpartitioning(dst"),
        s"arc-side dst shuffle crept back into the $dir gather:\n$plan")
      val scans = Plans.collect(exec) {
        case s: InMemoryTableScanExec if s.output.exists(_.name == "dsts") => s
      }
      assert(scans.nonEmpty, s"$dir gather does not read the persisted adjacency:\n$plan")
      val adjCols = scans.flatMap(_.output).map(_.exprId).toSet
      val arcSide = Plans.collect(exec) { case e: ShuffleExchangeExec => e.outputPartitioning }.collect {
        case p: Expression if p.references.exists(a => adjCols(a.exprId)) => p
      }
      assert(arcSide.isEmpty, s"$dir gather shuffles the adjacency:\n$plan")
    }
    g.unpersist()
  }

  test("random-walk hop: no exchange partitions on an adjacency column") {
    import org.apache.spark.sql.functions._
    val g = graft.core.Graph.fromPairs(spark, graft.Fixtures.erdosRenyi(80, 0.08, 9))
    g.adjacency.count()
    val adjS = g.adjacency.toDF().select(
      col("src").as("a_src"), col("deg").as("a_deg"),
      col("chunk").as("a_chunk"), col("dsts").as("a_dsts"))
    val st = g.vertices.toDF("start").select(col("start"), col("start").as("cur"))
    val hop = graft.operators.RandomWalk.hopStep(st, adjS, g.chunkSize.toLong, 1, "")
    hop.collect()
    val plan = hop.queryExecution.executedPlan.toString
    // The chunked successor arrays must come straight from their persisted
    // partitioning (or broadcast): an exchange hashing on the adjacency
    // join key would mean the arc table re-shuffles every hop. (The plan
    // string also dumps the CACHED relations' one-time build plans, whose
    // historical exchanges are fine — so the pin targets the hop join key
    // a_src specifically, not every exchange in the text.)
    assert(!plan.contains("hashpartitioning(a_src"),
      s"adjacency-side shuffle in the hop plan:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"hop does not read the persisted adjacency:\n$plan")
    g.unpersist()
  }

  test("q_asof: merge-based — ONE key shuffle, no join node, no per-pair expansion") {
    val df = RelationalQueries.asofOrders(spark, dir)
    df.collect() // AQE finalizes the physical plan on execution
    val plan = finalPlan(df)
    // The scale contract (AsOfJoin scaladoc): both sides tag+union and
    // shuffle ONCE on the merge key; a Join node anywhere would mean
    // Spark planned the quadratic per-key range join instead.
    assert(!plan.contains("MergeJoin") && !plan.contains("HashJoin")
      && !plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"as-of is joining instead of merging:\n$plan")
    val shuffles = "hashpartitioning\\(__k".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected exactly 1 merge-key shuffle, got $shuffles:\n$plan")
  }

  test("q_range: bin-bucketed equi-join — hash join on the bin key, never a nested loop") {
    val df = RelationalQueries.rangeEvents(spark, dir)
    df.collect()
    val plan = finalPlan(df)
    // The bin trick exists to turn the interval predicate into an
    // equi-join; a nested-loop/cartesian node means the rewrite regressed
    // to comparing every (row, interval) pair.
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"range join fell back to a per-pair plan:\n$plan")
    assert(plan.contains("Join"), s"no join node at all (plan changed shape?):\n$plan")
  }

  test("s_attrib batch face: equi-join on the user key with the range as residual — no per-pair plan") {
    val df = RelationalQueries.attribution(spark, dir)
    df.collect()
    val plan = finalPlan(df)
    // The interval predicate must ride as a residual condition on the
    // user_id equi-join; a nested-loop/cartesian node would mean Spark is
    // comparing every (view, purchase) pair — the quadratic shape the
    // stream-stream state-store version never pays either.
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"attribution joined per-pair:\n$plan")
    assert(plan.contains("Join"), s"no join node (plan changed shape?):\n$plan")
  }

  test("d_neardup_rep: representative selection never windows the corpus") {
    // The scale contract: rep ranking runs only on the tiny pair-graph
    // membership as a map-side-combined max_by; the corpus takes plain
    // equi-joins. A Window node anywhere in the plan would mean the
    // mostly-singleton corpus is being shuffled to rank groups of one.
    val q = TextQueries.nearDupRep(spark, dir)
    q.collect() // AQE finalizes the physical plan on execution
    val plan = executedPlan(q)
    assert(!plan.contains("Window"),
      s"corpus-wide window crept into nearDupRep:\n$plan")
    assert(plan.contains("max_by") || plan.contains("maxBy") || plan.contains("Max_by")
      || plan.toLowerCase.contains("max_by"),
      s"rep selection is not the max_by aggregate:\n$plan")
  }

  test("t_decontam: benchmark gram set broadcasts; no sort-merge join anywhere") {
    // The scale contract: the benchmark side is the SMALL side and must
    // broadcast — a sort-merge join would shuffle the full corpus gram
    // stream by hash. (The bench-side distinct's own tiny exchange is
    // expected; the corpus side may only shuffle matched hits + the
    // per-doc report keyed by doc_id.)
    val q = TextQueries.decontam(spark, dir)
    q.collect() // AQE finalizes the physical plan on execution
    val plan = executedPlan(q)
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram set did not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side sort-merge join in decontamination:\n$plan")
  }

  test("d_span_dedup: first-occurrence survival is an associative aggregate, not a window") {
    // min(struct(doc_id, idx)) partial-aggregates map-side; a Window node
    // would mean every chunk occurrence shuffles to be ranked row-by-row.
    val q = TextQueries.spanDedup(spark, dir)
    q.collect()
    val plan = executedPlan(q)
    assert(!plan.contains("Window"),
      s"corpus-wide window crept into spanDedup:\n$plan")
  }

  test("t_pii: scan-fused — zero exchanges, no UDF, codegen span") {
    val q = TextQueries.pii(spark, dir)
    q.collect()
    val plan = executedPlan(q)
    assert(!plan.contains("Exchange"),
      s"PII scrub must be a pure per-row projection; it shuffles:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"UDF leaked into the PII path:\n$plan")
    assert(plan.contains("*("), s"no whole-stage codegen span:\n$plan")
  }

  test("t_corpus_report: ONE corpus scan, no self-joins") {
    // The scale contract: every per-doc signal is computed in the same
    // pass (shared TextOps Columns), dup incidence is a window over the
    // text fingerprint, and the groupBy collapses map-side. A Join node
    // would mean the corpus is being scanned per signal and re-joined.
    val q = TextQueries.corpusReport(spark, dir)
    q.collect()
    val plan = finalPlan(q)
    assert(!plan.contains("Join"),
      s"corpus report self-joins the corpus:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected exactly 1 parquet scan, got $scans:\n$plan")
  }

  test("s_enrich: the tier dim broadcasts; the event side never sort-merges") {
    val q = RelationalQueries.eventsEnriched(spark, dir)
    q.collect()
    val plan = finalPlan(q)
    assert(plan.contains("BroadcastHashJoin"),
      s"tier dim did not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"event-side sort-merge join in the enrichment:\n$plan")
  }

  test("t_lang_confusion: detection shares the label's scan — no self-join") {
    val q = TextQueries.langConfusion(spark, dir)
    q.collect()
    val plan = finalPlan(q)
    assert(!plan.contains("Join"),
      s"lang confusion self-joins the corpus:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected exactly 1 parquet scan, got $scans:\n$plan")
  }

  test("i_url_canon: canonicalize fuses into the scan side of ONE count shuffle") {
    val q = IngestQueries.urlCanon(spark, dir)
    q.collect()
    val plan = finalPlan(q)
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF in the URL path:\n$plan")
    // partial HashAggregate → single exchange on canon_url → final agg
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n$plan")
  }

  test("q_rollup: grouping sets plan as ONE Expand pass, never a union of re-aggregations") {
    val q = RelationalQueries.rollup(spark, dir)
    q.collect()
    val plan = finalPlan(q)
    assert(plan.contains("Expand"),
      s"rollup lost its Expand (plan changed shape?):\n$plan")
    assert(!plan.contains("Union"),
      s"rollup degenerated into unioned re-aggregations:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected exactly 1 parquet scan, got $scans:\n$plan")
  }

  test("q_pivot: explicit value list keeps the pivot ONE scan + ONE aggregate, no join") {
    val q = RelationalQueries.eventsPivot(spark, dir)
    q.collect()
    val plan = finalPlan(q)
    assert(!plan.contains("Join"),
      s"pivot self-joins per event type:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected exactly 1 parquet scan, got $scans:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n$plan")
  }

  test("q_cube: all grouping sets in ONE Expand pass, one scan, one shuffle") {
    val q = RelationalQueries.cube(spark, dir)
    q.collect()
    val plan = finalPlan(q)
    assert(plan.contains("Expand"),
      s"cube lost its Expand (plan changed shape?):\n$plan")
    assert(!plan.contains("Union"),
      s"cube degenerated into unioned re-aggregations:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected exactly 1 parquet scan, got $scans:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n$plan")
  }

  test("e_sq_topk: bucket equi-join on quantized vectors — no per-pair plan, no UDF") {
    val q = TextQueries.sqTopK(spark, dir)
    q.collect()
    val plan = finalPlan(q)
    // The scale contract (VectorSim.sqTopK scaladoc): candidates come from
    // the multi-probe LSH bucket equi-join; a nested-loop/cartesian node
    // would mean the quantized corpus is compared all-pairs.
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"SQ top-k fell back to a per-pair plan:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"UDF leaked into the quantized scoring path:\n$plan")
    // Quantization + bucketing fuse into the one pass that builds the
    // persisted index side (read back as InMemoryTableScan) — a join back
    // to the raw embeddings to fetch q would show as a second parquet scan.
    assert(plan.contains("InMemoryTableScan"),
      s"quantized index side is not the persisted one-scan build:\n$plan")
  }

  test("adjacency build is one exchange + in-partition sort (no object agg)") {
    val g = graft.core.Graph.fromPairs(spark, graft.Fixtures.bucket9)
    val plan = g.adjacency.queryExecution.executedPlan.toString
    assert(!plan.contains("ObjectHashAggregate"),
      s"collect_list-style object aggregation crept back in:\n$plan")
  }

  test("bfsOrder rank: vertex window layer-partitioned; single-partition stage only for layer offsets") {
    import org.apache.spark.sql.functions._
    val g = graft.core.Graph.fromPairs(spark, graft.Fixtures.erdosRenyi(80, 0.06, 11))
    val comps = graft.operators.ConnectedComponents.run(g).components
    val keyed = comps.join(
      graft.operators.Bfs.runFrom(g.symmetrize, comps.where(col("id") === col("comp")).select(col("id")))
        .select(col("id"), col("dist")), Seq("id"))
      .localCheckpoint(true)
    val ranked = graft.operators.Reorder.rankPlan(keyed)
    ranked.collect()
    // AQE's toString repeats the pre-adaptive plan under "== Initial
    // Plan ==" — pin the FINAL plan only.
    val plan = ranked.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // The full-vertex row_number window must be partitioned by layer —
    // never a global single-partition sort of the vertex table.
    assert(plan.contains("hashpartitioning(comp"),
      s"vertex ranking window lost its layer partitioning:\n$plan")
    // Exactly one SinglePartition exchange: the layer-offset running sum
    // over the (comp, dist) size table (|layers| ≪ |V|).
    assert("SinglePartition".r.findAllIn(plan).size <= 1,
      s"more than one single-partition stage in the rank plan:\n$plan")
    g.unpersist()
  }

  test("node2vec biased hop: adjacency stays put; probe side partitioned once; no cartesian") {
    import org.apache.spark.sql.functions._
    val g = graft.core.Graph.fromPairs(spark, graft.Fixtures.erdosRenyi(80, 0.08, 9))
    g.adjacency.count()
    val adjS = g.adjacency.toDF().select(
      col("src").as("a_src"), col("chunk").as("a_chunk"), col("dsts").as("a_dsts"))
    val nbE = g.edges.toDF().select(col("src").as("nb_src"), col("dst").as("nb_dst"))
      .repartition(col("nb_src"), col("nb_dst"))
      .persist()
    val st = g.vertices.toDF("start")
      .select(col("start"), col("start").as("prev"), col("start").as("cur"))
    val hop = graft.operators.RandomWalk.biasedHop(st, adjS, nbE, 2.0, 4.0, 2, "")
    hop.collect()
    val plan = hop.queryExecution.executedPlan.toString
    // Same contract as the uniform hop: the chunked successor arrays come
    // from their persisted partitioning — never re-shuffled per hop.
    assert(!plan.contains("hashpartitioning(a_src"),
      s"adjacency-side shuffle in the biased hop plan:\n$plan")
    // The N(prev) membership probe must reuse the once-partitioned edge
    // table (InMemoryTableScan), and nothing may fall back to a per-pair
    // plan.
    assert(plan.contains("InMemoryTableScan"),
      s"probe side not read from its persisted partitioning:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"per-pair plan in the biased hop:\n$plan")
    nbE.unpersist()
    g.unpersist()
  }

  test("d_url_dedup: keep-best is ONE map-side-combined aggregate, no window, no join") {
    // The scale contract: canonicalization fuses into the scan and the
    // survivor per canonical key is a max(struct) + count aggregate —
    // partial map-side, so popular-page skew is absorbed before the
    // shuffle. A Window node (rank-the-corpus) or any join would mean
    // the whole fetch log shuffles twice.
    val q = IngestQueries.urlDedup(spark, dir)
    q.collect() // AQE finalizes the physical plan on execution
    val plan = finalPlan(q)
    assert(!plan.contains("Window"),
      s"corpus-wide window crept into urlDedup:\n$plan")
    assert(!plan.contains("Join"), s"join crept into urlDedup:\n$plan")
    assert("Exchange hashpartitioning\\(canon_url".r
      .findAllIn(plan).size == 1,
      s"keep-best must shuffle exactly once on the canonical key:\n$plan")
  }

  test("q_bloom_semi: the bloom probe filters the fact scan BELOW the semi-join") {
    // The runtime-row-filter contract: `bloom_might_contain` must sit in
    // a Filter on the lineitem scan side (printed BELOW the join in the
    // plan tree), so pruning happens map-side before any shuffle — and
    // the final join stays an exact semi-join, never a nested loop.
    val q = RelationalQueries.bloomSemi(spark, dir)
    q.collect()
    val plan = finalPlan(q)
    val probeAt = plan.indexOf("bloom_might_contain")
    val joinAt = plan.indexOf("Join")
    assert(probeAt >= 0, s"bloom probe missing from the plan:\n$plan")
    assert(joinAt >= 0 && probeAt > joinAt,
      s"bloom probe must be a child of the semi-join (prune before shuffle):\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("ScalaUDF"),
      s"bloom semi-join plan regressed:\n$plan")
  }

  test("t_cms_heavy: the CMS probe filters the token stream BELOW the exact count") {
    // Sketch-prunes-exact-verifies: `cms_estimate >= T` must run under
    // the partial HashAggregate (map-side, before the groupBy shuffle) so
    // the aggregation state is heavy-tail-sized, not vocabulary-sized.
    val q = TextQueries.cmsHeavy(spark, dir)
    q.collect()
    val plan = finalPlan(q)
    val probeAt = plan.indexOf("cms_estimate")
    val aggAt = plan.indexOf("HashAggregate")
    assert(probeAt >= 0, s"cms probe missing from the plan:\n$plan")
    assert(aggAt >= 0 && probeAt > aggAt,
      s"cms probe must run below the count aggregate:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF leaked into cmsHeavy:\n$plan")
  }

  test("e_ivfpq_topk: codes + LUT ride the plan as literals — no scoring join, no cartesian") {
    // ADC scoring must be element_at over literal arrays: the only joins
    // are the cell-candidate equi-join and the encode attach; the LUT
    // itself never becomes a relation.
    val q = TextQueries.ivfPqTopK(spark, dir)
    q.collect()
    val plan = finalPlan(q)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"per-pair plan in ivfpq:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF leaked into ivfpq:\n$plan")
  }

  test("g_coloring round: only (id,color)-shaped state shuffles — never adjacency arrays") {
    // The scale contract of the Jones–Plassmann round: the ready/mex pass
    // aggregates the precedent-edge state map-side (partial_sort_array /
    // partial collect_set), and no exchange ever carries an adjacency
    // array column. ObjectHashAggregate appears only for collect_set —
    // acceptable: it runs partial (map-side) first.
    import org.apache.spark.sql.functions._
    val g = graft.core.Graph.fromPairs(spark, graft.Fixtures.bucket9)
    val r = graft.operators.Coloring.run(g, salt = "plan", maxRounds = 2)
    val plan = finalPlan(r.colors)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"per-pair plan in the coloring output join:\n$plan")
    assert(!plan.contains("ScalaUDF"),
      s"UDF leaked into the coloring path:\n$plan")
  }

  test("g_louvain4: one UNCUT move round never goes per-pair and never UDF") {
    // The final labels frame is lineage-cut (its plan is just a
    // checkpoint scan — asserting on it would be vacuous), so explain
    // ONE uncut round: all joins must be equi-joins (k(i,c) gather,
    // community-stats attach, own-community attach); a cartesian/
    // nested-loop node would mean the candidate scoring regressed to
    // per-pair, and the exact decimal argmax must stay native
    // expressions.
    import org.apache.spark.sql.functions._
    val g = graft.core.Graph.fromPairs(spark, graft.Fixtures.bucket9)
    import spark.implicits._
    val sym = g.symmetrize.edges.filter($"src" =!= $"dst").toDF()
    val deg = g.vertices.toDF("id")
      .join(sym.groupBy($"src".as("id")).agg(count(lit(1)).as("deg")), Seq("id"), "left")
      .select($"id", coalesce($"deg", lit(0L)).as("deg"))
    val state = deg.select($"id", $"id".as("comm"))
    val next = graft.operators.Louvain.moveRound(sym, deg, sym.count(), state, 1)
    next.collect()
    val plan = finalPlan(next)
    assert(plan.contains("Join"), s"expected the round's joins in the plan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"per-pair plan in the louvain round:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF leaked into louvain:\n$plan")
  }
}
