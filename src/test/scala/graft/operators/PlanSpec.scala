package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Physical-plan shape assertions — the properties that make these plans
  * survive a 100x scale-up, locked in as tests so a refactor can't silently
  * regress them (sf0.001 so planning is fast; shapes are size-independent
  * except where AQE thresholds are noted). */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  /** Final physical plan, with AQE resolved (executes the query) plus the
    * formatted explain (which carries scan PushedFilters/ReadSchema). */
  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.queryExecution.toRdd.foreach(_ => ()) // finalize adaptive plan
    df.queryExecution.executedPlan.toString + "\n" +
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** (k, n) of every connector scan in the plan: it reads k of its n
    * bucket directories (`GraftBatchScan … buckets=k/n`). */
  private def connectorScans(p: String): Seq[(Int, Int)] =
    """GraftBatchScan \S+ runtime-filterable buckets=(\d+)/(\d+)""".r
      .findAllMatchIn(p).map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq

  /** The connector scans that read a strict subset of their buckets. */
  private def prunedScans(p: String): Seq[(Int, Int)] =
    connectorScans(p).filter { case (k, n) => k < n }

  /** No join and no exchange beneath a lookup: the only exchange a lookup
    * frame may hold is its own final sort's range partitioning. */
  private def joinAndShuffleFree(p: String): Boolean =
    !p.contains("Join") && !p.contains("BroadcastExchange") &&
      !p.contains("hashpartitioning") && !p.contains("SinglePartition")

  test("q02: filters reach the parquet scan (PushedFilters)") {
    val p = plan("q02_filter_agg")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("q02: scan reads only the referenced columns (schema pruning)") {
    val p = plan("q02_filter_agg")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"pruned scan should not read l_orderkey: $readSchema")
    assert(readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q03: dimension side is broadcast, top-k is TakeOrderedAndProject") {
    val p = plan("q03_join_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q04/q05: EXISTS/NOT EXISTS plan as semi/anti joins, not cartesian") {
    assert(plan("q04_semi_join").contains("LeftSemi"))
    assert(plan("q05_anti_join").contains("LeftAnti"))
  }

  test("q01: aggregation is partial + final hash aggregate (map-side combine)") {
    val p = plan("q01_agg_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q41: exact near-dup pairs come from banded equi-joins — no all-pairs, no global window") {
    val p = plan("q41_neardup_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p) // no 1-partition global-window dictionary sort
  }

  test("q42: LSH candidate join is an equi hash/merge join — never a cross product") {
    val p = plan("q42_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  // The recall audit inside q51/q53 runs ONE exact-baseline pass: a
  // broadcast nested-loop of the 10-row query set against the corpus —
  // q50's intentional shape, not an accident. Candidate generation itself
  // must still be an equi hash join, and nothing may be a cartesian.
  // Calibrate against q50, whose ONE broadcast-NL join (10-row query set x
  // corpus) is the exact-baseline shape the audit embeds: an ANN plan with
  // MORE BNLJ mentions than q50 has grown a second non-equi join.
  private lazy val bnljMentionsInBrute =
    "BroadcastNestedLoopJoin".r.findAllIn(plan("q50_ann_brute")).size

  private def assertAnnShape(p: String): Unit = {
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= bnljMentionsInBrute,
      s"only the recall audit may broadcast-NL the query set:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"candidate join must be equi:\n$p")
  }

  test("q51: ANN probes join target codes by equality — never all-pairs") {
    assertAnnShape(plan("q51_ann_lsh"))
  }

  test("q53: IVF cell assignment is a pure projection; probe join is equi, never all-pairs") {
    assertAnnShape(plan("q53_ann_ivf"))
  }

  test("q90: PII scrub is narrow — no join, no aggregate before the output convention") {
    val p = plan("q90_pii_scrub")
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("q91: survivor selection is an equi join + per-cluster window, never global") {
    val p = plan("q91_dedup_survivors")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("windowspecdefinition(canonical_id"),
      s"survivor rank must window per cluster, not globally:\n$p")
  }

  test("q95: corpus pass is ONE partial+final agg; the merge is vocab-sized") {
    val p = plan("q95_bpe_merge_step")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      s"nothing in the BPE step may shuffle-join row-level frames:\n$p")
    // the only non-equi join is the ONE-row argmax pair broadcast into the
    // vocabulary — calibrated against q50's exactly-one-BNLJ plan, like
    // the ANN shape checks; everything downstream of the corpus
    // tokenize+count runs on the vocabulary
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= bnljMentionsInBrute,
      s"only the single-row best-pair broadcast may nested-loop:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q96: ONE exchange on host — the window's; the per-host agg reuses it") {
    val p = plan("q96_host_budget")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p)
    assert(p.contains("windowspecdefinition(host"),
      s"budget cumsum must window per host:\n$p")
    val hostExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(host"))
      .size
    // executedPlan + formatted explain each print the single exchange once
    assert(hostExchanges <= 2,
      s"per-host agg must reuse the window's partitioning, found $hostExchanges host exchanges:\n$p")
  }

  test("q98: line df keys on md5, boilerplate joins back as an equi-join") {
    val p = plan("q98_line_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"line dedup must never pair lines all-vs-all:\n$p")
    assert(p.contains("md5("),
      s"the df/join key must be the 128-bit digest, not raw line strings:\n$p")
    assert(p.contains("lkey"), s"boilerplate must join back on the digest key:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("q99: every training iteration stays vocab-sized, argmax broadcast only") {
    val p = plan("q99_bpe_train")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      s"nothing in BPE training may shuffle-join row-level frames:\n$p")
    // one single-row corpus_tokens broadcast per rank row survives the
    // per-iteration localCheckpoint truncation; calibrate against q50's
    // exactly-one-BNLJ plan like the ANN checks
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size
        <= graft.ext.Corpus.BpeTrainIters * bnljMentionsInBrute,
      s"only one-row stat broadcasts may nested-loop:\n$p")
  }

  test("q102: bucketed co-located join is shuffle-free on the join key") {
    val p = plan("q102_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(o_custkey") &&
      !p.contains("Exchange hashpartitioning(c_custkey"),
      s"bucketed co-located join must not shuffle either side:\n$p")
  }

  test("q103: SCD2 history is one per-key window pass, no join") {
    val p = plan("q103_scd2_history")
    assert(!p.contains("Join"), s"history derives from the ordered feed alone:\n$p")
    assert(p.contains("windowspecdefinition(o_orderkey"),
      s"interval close must window per key:\n$p")
  }

  test("q106: phrase search is positional equi-joins, term filters prune postings") {
    val p = plan("q106_phrase_search")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"phrase matching must join on (doc_id, pos), never pair postings all-vs-all:\n$p")
    assert(p.contains("= table") || p.contains("table)"),
      s"the leading term filter must prune the postings before the join:\n$p")
  }

  test("q107: PCA step is one corpus pass, no Gram matrix, no row-level join") {
    // the graft_dot corpus pass sits above the localCheckpoint and is
    // exercised by the correctness gate; this locks the post-checkpoint
    // normalization shape
    val p = plan("q107_pca_step")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing may join row-level frames:\n$p")
    // the only non-equi join is the one-row norm broadcast (localCheckpoint
    // hides the upstream); calibrate against q50's exactly-one-BNLJ plan
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= bnljMentionsInBrute,
      s"only the one-row norm broadcast may nested-loop:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("q108: skew join shuffles on (key, salt), dim side replicated") {
    val p = plan("q108_salted_join")
    assert(p.contains("SortMergeJoin"),
      s"salting targets the shuffle-join regime (broadcast would not need it):\n$p")
    assert(p.contains("Generate explode") || p.contains("explode("),
      s"the dim side must replicate over the salt values:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("salt")),
      s"the join keys must include the salt so hot keys split across reducers:\n$p")
  }

  test("q110: point lookup prunes to the keys' bucket partitions, pushes the key set") {
    val p = plan("q110_point_lookup")
    // bucket pruning: the keys hash to their bucket ids at the one
    // connector scan — the read touches only the keys' bucket dirs
    assert(prunedScans(p).nonEmpty,
      s"the key set must prune the scan to a strict bucket subset:\n$p")
    // row-group pruning: the single-column PK's literal IN-list is pushed
    // into the parquet scan (min/max stats skip row groups inside a bucket)
    assert(p.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("In(o_orderkey")),
      s"the pk IN-list must reach PushedFilters:\n$p")
    // the authoritative key match is the literal key filter itself — a
    // point lookup joins nothing and never shuffles the table
    assert(joinAndShuffleFree(p), s"no join and no exchange in a point lookup:\n$p")
  }

  test("q123: index-assisted read is two bucket-pruned lookups, never a table scan or shuffle join") {
    val p = plan("q123_secondary_index")
    // the store hop (the base-store Get over the index hop's collected
    // keys) is the one connector scan, its bucket coverage computed from
    // the pushed keys (at this scale they span every store bucket; the
    // index hop's strict pruning is the case below)
    assert(connectorScans(p).nonEmpty, s"the store hop must be the connector scan:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("PushedFilters") &&
          (l.contains("In(o_orderkey") || l.contains("EqualTo(o_orderkey"))),
      s"store-hop keys must reach PushedFilters:\n$p")
    // a secondary-index read never joins or shuffles either table
    assert(joinAndShuffleFree(p), s"no join and no exchange in an index read:\n$p")
  }

  test("q123: the index hop is a bucket-pruned prefix scan with its prefix keys pushed") {
    import org.apache.spark.sql.functions.col
    import graft.cdc.{CdcApplier, ChangeFeed}
    val o = graft.Tables.load(spark, dir, "orders")
    val index = java.nio.file.Files.createTempDirectory("graft_plan").toString + "/orders_idx"
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(o.select(col("o_custkey"), col("o_orderkey")), col("o_orderkey") * 10),
      index, CdcApplier.Options(Seq("o_custkey", "o_orderkey"),
        bucketCols = Some(Seq("o_custkey"))))
    val custkeys = spark.createDataFrame(Seq(3L, 7L, 11L, 19L, 42L).map(Tuple1(_)))
      .toDF("o_custkey")
    val hop = CdcApplier.pointLookup(spark, index, custkeys).select(col("o_orderkey"))
    hop.queryExecution.toRdd.foreach(_ => ())
    val p = hop.queryExecution.executedPlan.toString + "\n" +
      hop.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(prunedScans(p).nonEmpty, s"the index scan must bucket-prune:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("PushedFilters") &&
          (l.contains("In(o_custkey") || l.contains("EqualTo(o_custkey"))),
      s"index-hop prefix keys must reach PushedFilters:\n$p")
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"no join and no exchange in the index hop:\n$p")
  }

  test("q243: MaxSim is one broadcast pair projection — no explode, no sub-vector shuffle") {
    val p = plan("q243_late_interaction")
    val fin = p.split("== Initial Plan ==")(0)
    // the 4x16 decomposition stays inside the per-pair projection: no
    // Generate (explode) anywhere, the only join is the broadcast query
    // cross, and the only exchange is the per-query rank window's
    assert(!fin.contains("Generate "), s"sub-vectors must not explode:\n$p")
    assert(fin.contains("BroadcastNestedLoopJoin"),
      s"query set must broadcast:\n$p")
    assert(!fin.contains("SortMergeJoin") && !fin.contains("ShuffledHashJoin"),
      s"no shuffle join in the brute pass:\n$p")
  }

  test("q236: connector statistics auto-broadcast the dimension (no hint)") {
    val p = plan("q236_connector_stats")
    // the graft dim read reports covered-bucket bytes as sizeInBytes, so
    // JoinSelection picks a broadcast join on its own; the fact side must
    // never shuffle for a dimension join
    assert(p.contains("BroadcastHashJoin"),
      s"dimension-sized graft read must auto-broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no shuffle join for a broadcastable dimension:\n$p")
  }

  test("q216: V2 connector scans push filters and bucket-prune (cow IN-list, range BETWEEN)") {
    val p = plan("q216_sql_connector")
    // every connector scan advertises its pruning ratio in the relation
    // label; the IN-list and BETWEEN legs must read strictly fewer buckets
    // than the layout holds (the mor full-scan leg legitimately reads all)
    val ratios = """buckets=(\d+)/(\d+)""".r.findAllMatchIn(p)
      .map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
    assert(ratios.size >= 3, s"three connector scans expected:\n$p")
    assert(ratios.count { case (m, n) => m < n } >= 2,
      s"the IN-list and BETWEEN legs must bucket-prune (got $ratios):\n$p")
    // the pushed predicates surface on the scan nodes: the engine keeps
    // them for row-group skipping inside the pruned buckets
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("In(o_orderkey"), s"IN-list must reach PushedFilters:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderkey,1000)"),
      s"BETWEEN endpoints must reach PushedFilters:\n$p")
  }

  test("q244: runtime filters prune the fact scan to fewer buckets than the layout holds") {
    val p = plan("q244_runtime_bucket_pruning")
    // the gate's requires already executed (both joins pruned, fallback
    // read all); lock the plan surface: runtime-filterable Batch scans
    // under broadcast joins, never a shuffle join against the tiny dims
    assert(p.contains("GraftBatchScan"), s"Batch leg expected:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no shuffle join against broadcast-sized dims:\n$p")
  }

  test("q249: candidate re-rank joins are all equi — the brute cross never happens") {
    val p = plan("q249_two_stage_retrieval")
    val fin = p.split("== Initial Plan ==")(0)
    // stage 2 fetches ONLY candidate embeddings: broadcast equi-joins on
    // (doc_id/tid) and (qid); q243's BroadcastNestedLoopJoin query cross
    // must NOT appear anywhere in the two-stage composition
    assert(!fin.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the only nested-loop is bm25FromStats' ONE-ROW (avgdl, n_docs)
    // scalar broadcast — a Cross build, q111's accepted class; a row-level
    // fallback or a corpus cross would not be
    val bnlj = fin.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")),
      s"only the one-row stats broadcast may nested-loop:\n$p")
    assert(fin.contains("BroadcastHashJoin"),
      s"candidate fetch must be a broadcast equi-join:\n$p")
  }

  test("q248: the exact rescue join is digest-keyed equi, left side maybe-only") {
    val p = plan("q248_bloom_cross_release")
    val fin = p.split("== Initial Plan ==")(0)
    // no all-pairs anywhere: the only nested-loops are the two ONE-ROW
    // audit broadcasts (Cross builds), the rescue anti-join is equi on the
    // md5 digest, and raw text never shuffles as a key
    assert(!fin.contains("CartesianProduct"), s"no cartesian:\n$p")
    val bnlj = fin.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.size <= 2 && bnlj.forall(_.contains("Cross")),
      s"only the two 1-row audit broadcasts may nested-loop:\n$p")
    assert(fin.contains("LeftAnti") || fin.contains("LeftSemi"),
      s"rescue must be an anti/semi digest join:\n$p")
    assert(p.contains("md5("), s"the join key must be the digest:\n$p")
  }

  test("q246: cow aggregates are footer-only, mor falls back to the row-level resolve") {
    val p = plan("q246_connector_agg_pushdown")
    // cow + limit legs: the pushed aggregation serves per-file statistics
    // rows — no row-level relation may appear under those aggregates
    assert(p.contains("GraftAggRelation("), s"footer-only scan expected:\n$p")
    assert(p.contains("PushedAggregates"), s"pushed aggregates must surface:\n$p")
    // mor leg: refusal falls back to the row-level read (the unpruned
    // full read rides the q244 Batch leg with reader-local resolve)
    assert(p.contains("GraftBatchScan"), s"mor leg must row-level scan:\n$p")
    // limit leg: the pushed LIMIT reaches the scan label
    assert(p.contains("limit=10000000"), s"pushed limit expected:\n$p")
  }

  test("q111: PageRank step is equi-joins + partial/final aggs, one scalar broadcast") {
    val p = plan("q111_pagerank_step")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian anywhere in a graph step:\n$p")
    // the only nested-loop is the one-row N+dangling totals broadcast —
    // count the FINAL plan section only (the explain output re-lists
    // nodes in the initial/formatted sections); the feed frames are
    // checkpointed like a real iteration's materialized tables
    val bnlj = p.split("== Initial Plan ==")(0)
      .linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.size <= 1, s"only the scalar totals frame may nested-loop:\n$p")
    assert(bnlj.forall(_.contains("Cross")),
      s"scalar broadcasts must be Cross builds, not row-level fallbacks:\n$p")
    // outdeg and in-mass both aggregate with map-side partials
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("q112: corpus encode is one vocab equi-join + partial/final agg, no nested loop") {
    // the merge chain runs on the checkpointed VOCAB; the corpus-side plan
    // is explode -> equi-join on the word -> per-doc agg
    val p = plan("q112_bpe_encode")
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") && !fin.contains("BroadcastNestedLoopJoin"),
      s"tokenizing the corpus must never nested-loop:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("q113: LM scoring is vocab equi-joins + partial/final aggs; only scalar broadcasts nested-loop") {
    val p = plan("q113_lm_quality")
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"),
      s"no cartesian anywhere in LM scoring:\n$p")
    // the only nested-loops are one-row frames: V and the tercile bounds
    val bnlj = fin.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")),
      s"scalar broadcasts must be Cross builds, not row-level fallbacks:\n$p")
    // bigram/context/V model aggs + the per-doc reduce all combine map-side
    assert("HashAggregate".r.findAllIn(fin).size >= 4, p)
  }

  test("q114: fuzzy linkage joins deletion keys by equality — no all-pairs, no cartesian") {
    val p = plan("q114_fuzzy_vocab")
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") && !fin.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be an equi-join on the deletion key:\n$p")
    assert(fin.contains("HashAggregate"), p)
  }

  test("q117: classifier model is equi-joins + partial/final aggs; only scalar broadcasts nested-loop") {
    val p = plan("q117_token_classifier")
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"),
      s"no cartesian in classifier scoring:\n$p")
    // the only nested-loops are the one-row consts frames (priors/totals/V)
    val bnlj = fin.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")),
      s"scalar broadcasts must be Cross builds, not row-level fallbacks:\n$p")
    // per-class counts + consts + per-doc reduce all combine map-side
    assert("HashAggregate".r.findAllIn(fin).size >= 4, p)
  }

  test("q118: semantic-dedup pairs come from a cell equi-join; retention is an anti-join") {
    val p = plan("q118_semantic_dedup")
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") && !fin.contains("BroadcastNestedLoopJoin"),
      s"candidates must be scoped by the cell equi-join, never all-pairs:\n$p")
    assert(fin.contains("LeftAnti"),
      s"lowest-id-wins retention is an anti-join from the dominated set:\n$p")
    assert(fin.linesIterator.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") ||
          l.contains("ShuffledHashJoin")) && l.contains("cell")),
      s"the pair join must key on cell:\n$p")
  }

  test("q125: PQ encode is a pure projection — no join, no mid-plan shuffle") {
    val p = plan("q125_pq_encode")
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), s"PQ assignment must not join:\n$p")
    // the only exchanges are the input spread and the 1-slot result sink;
    // the encode itself never shuffles
    assert("Exchange".r.findAllIn(fin).size <= 2,
      s"no mid-plan shuffle in a projection-only encode:\n$p")
  }

  test("q126: IVFPQ candidates come from a broadcast cell join, never a shuffle join") {
    val p = plan("q126_ivfpq_search")
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), s"no all-pairs scan:\n$p")
    assert(!fin.contains("SortMergeJoin") && !fin.contains("ShuffledHashJoin"),
      s"the probe set is query-sized — it must broadcast:\n$p")
    assert(fin.contains("BroadcastHashJoin"), s"cell equi-join must broadcast:\n$p")
  }

  test("q132: stats collection is one scan — no join, no self-union of the table") {
    val p = plan("q132_table_stats")
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), s"one-pass stats must not join:\n$p")
    // one parquet scan only: the multi-distinct goes through expand, not
    // through per-column re-scans
    assert(fin.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"stats must read the table once:\n$p")
    assert(fin.contains("Expand"), s"multi-distinct plans via expand:\n$p")
  }

  test("q124: drift joins stay vocab-sized; totals broadcast, top-K is a TakeOrdered") {
    val p = plan("q124_token_drift")
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), p)
    assert(fin.contains("BroadcastNestedLoopJoin") || fin.contains("BroadcastHashJoin"),
      s"the 1-row totals frame must broadcast:\n$p")
    assert(fin.contains("TakeOrderedAndProject"),
      s"top-K must be a distributed TakeOrdered, not a global sort:\n$p")
  }

  test("q134: range scan prunes to covering buckets and pushes the range predicate") {
    val p = plan("q134_range_scan")
    assert(prunedScans(p).nonEmpty,
      s"covering-bucket pruning must reach the scan:\n$p")
    assert(p.linesIterator.exists(l => l.contains("PushedFilters") &&
        l.contains("GreaterThanOrEqual(o_orderkey") &&
        l.contains("LessThanOrEqual(o_orderkey")),
      s"the BETWEEN must push for row-group skipping:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"a range scan joins nothing:\n$p")
  }

  test("q139: the stats aggregate pushes into the parquet footer scan") {
    // q139's entry collects inside its conf scope (the returned frame is
    // already local rows), so the lock rebuilds the scan here
    import org.apache.spark.sql.functions._
    val prevAgg = spark.conf.getOption("spark.sql.parquet.aggregatePushdown")
    val prevV1 = spark.conf.getOption("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .agg(count(lit(1)).as("n"),
          min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"))
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("PushedAggregation"),
        s"count/min/max must answer from row-group statistics:\n$p")
    } finally {
      def restore(k: String, v: Option[String]): Unit =
        v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
      restore("spark.sql.parquet.aggregatePushdown", prevAgg)
      restore("spark.sql.sources.useV1SourceList", prevV1)
    }
  }

  test("q119: z-order audit is one scan into one aggregation — no join, no extra shuffle") {
    val p = plan("q119_zorder_layout")
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), s"the layout audit joins nothing:\n$p")
    assert(fin.linesIterator.count(_.contains("Scan parquet")) == 1, p)
  }

  test("q121: leakage is a shuffled equi-join on the content digest — no cartesian, no broadcast of the corpus") {
    val p = plan("q121_split_leakage")
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") && !fin.contains("BroadcastNestedLoopJoin"),
      s"cross-split matching must be an equi-join on ckey:\n$p")
    assert(fin.contains("SortMergeJoin") || fin.contains("ShuffledHashJoin") ||
      fin.contains("BroadcastHashJoin"), p)
  }

  test("q122/q140: the permutation avoids a single-partition global sort; offsets broadcast") {
    Seq("q122_train_order", "q140_train_shards").foreach { q =>
      val p = plan(q)
      val fin = p.split("== Initial Plan ==")(0)
      // the 16-row offsets frame joins back as a broadcast
      assert(fin.contains("BroadcastHashJoin"), s"$q offsets must broadcast:\n$p")
      // every window over corpus rows partitions by bucket (16-way); an
      // empty windowspec partition list would be the single-partition
      // global sort this shape exists to avoid
      val specs = fin.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(specs.nonEmpty && specs.forall(s =>
          s.contains("windowspecdefinition(bucket") || s.contains("windowspecdefinition(nall") ||
            s.contains("windowspecdefinition(tall")),
        s"$q windows must partition by bucket (or the 16-row offsets key):\n$p")
    }
  }

  test("q46: fingerprint runs the fused native kernel, not an interpreted fold") {
    val p = plan("q46_fingerprint")
    assert(p.contains("graft_fingerprint"), p)
    assert(!p.contains("aggregate(sequence"), p)
    assert(!p.contains("transform("), p)
  }

  test("whole-stage codegen covers the relational hot paths") {
    // codegen'd stages print as "*(n) Operator" in the final adaptive plan
    val p = plan("q01_agg_summary")
    assert(p.contains("*(1) "), p)
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("HashAggregate")), p)
  }

  test("q57: contamination joins benchmark shingles by equality with a broadcast — never all-pairs") {
    val p = plan("q57_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q59: tf-idf aggregations are partial+final; df join is equi on term") {
    val p = plan("q59_tfidf")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is the 1-row corpus-count broadcast, which is fine:
    // a BNLJ against a single-row build side is a constant, not a blowup
    assert(!p.contains("Window") || p.contains("windowspecdefinition(doc_id"),
      "the rank window must be per-doc, never global: " + p)
  }

  test("q62: k-means assignment is a pure projection (no join before the posexplode agg)") {
    val p = plan("q62_kmeans_step")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "cell assignment must not join: " + p)
    assert(p.contains("graft_dot"), p) // the codegen kernel, not an interpreted fold
  }

  test("rank<=k filters push a partial per-partition top-k below the shuffle (WindowGroupLimit)") {
    // row_number().over(w) <= k plans as WindowGroupLimit: each partition
    // keeps at most k rows per key BEFORE the exchange, so the window never
    // sorts a whole group's data through one task — the property that lets
    // the top-k queries survive 100x. Locked for every rank-filter family.
    for (q <- Seq("q07_window_topk", "q50_ann_brute", "q53_ann_ivf", "q59_tfidf"))
      assert(plan(q).contains("WindowGroupLimit"), s"$q lost rank-limit pushdown")
  }

  test("q65: mixture sampling windows per source — no join, no global window") {
    val p = plan("q65_mixture_sample")
    assert(!p.contains("Join"), p) // pure projection + one windowed pass
    assert(p.contains("windowspecdefinition(source"),
      "the running-count window must be per-source, never global: " + p)
  }

  test("q66: quantized ANN runs the int8 kernels with a broadcast query side") {
    val p = plan("q66_ann_quantized")
    // the codegen kernels, not interpreted HOFs, carry the hot path
    assert(p.contains("graft_i8quant") && p.contains("graft_qdot"), p)
    assert(!p.contains("transform("), p)
    // q50's deliberate shape: tiny query set broadcast against the streamed
    // corpus (a BNLJ against a broadcast-sized build side is the plan)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"), "q66 lost rank-limit pushdown: " + p)
  }

  test("q67: incremental admission is equi-join candidates + a left-anti gate — no all-pairs") {
    val p = plan("q67_incremental_admit")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("q68: quality audit is one kernel projection + a tiny aggregate — no join") {
    val p = plan("q68_quality_audit")
    assert(p.contains("graft_rep_stats"), p)
    assert(!p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("q69: vocab top-K is TakeOrderedAndProject; the cumsum window is bounded and partitioned") {
    val p = plan("q69_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), "top-K must never be a global sort: " + p)
    // the K-row cumsum window is keyed by the (single-valued) total column,
    // so it never plans as the unpartitioned-window shape Spark warns about
    assert(p.contains("windowspecdefinition(total"), p)
  }

  test("q70: substring dedup is hash-keyed aggregate + equi-join — never doc x doc") {
    val p = plan("q70_substring_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // document frequency must be partial+final on the hash key (map-side
    // combine is what absorbs hot shingles at 100 TB)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window"), "df must be an aggregate, not a global window: " + p)
  }

  test("q72: heavy-hitter recount joins the bounded candidate set by broadcast") {
    val p = plan("q72_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      "no vocabulary-wide shuffle join may exist: " + p)
  }

  test("q73: chunking is narrow — no join, no aggregate, no shuffle before the output convention") {
    val p = plan("q73_chunk_overlap")
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(p.contains("Generate explode"), p) // the per-doc index fan-out
    assert(p.contains("graft_polyhash"), "chunk identity must use the codegen kernel: " + p)
  }

  test("q74: BM25 statistics are broadcast; scoring join is equi on doc_id — no all-pairs") {
    val p = plan("q74_bm25")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q75/q76: funnel and retention are user-key equi-joins + partial aggs — no all-pairs") {
    for (q <- Seq("q75_funnel", "q76_retention")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q: $p")
    }
  }

  test("q77: the rolling frame is a per-user range window, never global") {
    val p = plan("q77_rolling_window")
    assert(p.contains("windowspecdefinition(user_id"),
      "rolling window must be partitioned by user: " + p)
    assert(!p.contains("Join"), p)
  }

  test("q78: z-score stats broadcast back onto the stream; no wide join") {
    val p = plan("q78_zscore")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q80: collocation top-K is TakeOrderedAndProject over equi-joined counts") {
    val p = plan("q80_collocations")
    assert(p.contains("TakeOrderedAndProject"), "top-K must never be a global sort: " + p)
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q81: decile assignment broadcasts quantile bounds — no per-language sort window") {
    val p = plan("q81_decile_histogram")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("ntile"), "assignment must not be a windowed ntile: " + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q79: IVM deltas are partial+final aggs; merges are key-equi full-outer joins") {
    val p = plan("q79_incremental_agg")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("FullOuter"), "view merge must be a full-outer equi join: " + p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q63: the shared SQL text plans with pushdown, broadcast, and partial aggregation") {
    val p = plan("q63_sql_surface")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(o_custkey)") || p.contains("Not(EqualTo(o_orderstatus,F))"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q141: paragraph dedup is digest-keyed agg + equi-join — never para x para") {
    val p = plan("q141_para_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // winner election must be a partial+final min(struct) agg on the md5
    // key, not a window over paragraph partitions
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window"), "winner election must not be a window: " + p)
    assert(p.contains("md5"), "occurrences must be keyed by digest: " + p)
  }

  test("q142: mixture targets are source-sized aggs broadcast back; one admission window") {
    val p = plan("q142_temp_mixture")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // the ONLY window is the per-source admission window — no global or
    // second-pass window anywhere in the plan
    assert("windowspecdefinition\\(".r.findAllIn(p).size ==
      "windowspecdefinition\\(source".r.findAllIn(p).size, p)
    assert(p.contains("windowspecdefinition(source"), p)
  }

  test("q143: expectations fold into single-pass aggs + anti-joins — no cartesian") {
    val p = plan("q143_expectations")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), "referential checks must be anti-joins: " + p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q145: the LATERAL decorrelates to a map-side-limited window + equi join") {
    val p = plan("q145_lateral_topk")
    // Catalyst must rewrite the per-row dependent subquery into a rank
    // window with WindowGroupLimit (partial top-k BEFORE the shuffle) and
    // an equi join — never a per-outer-row re-execution or cartesian
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), "map-side group limit must precede the shuffle: " + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    // the outer filter must also prune the inner side (predicate pushdown
    // through the decorrelation)
    assert(p.contains("(o_custkey") && p.contains("% 10)"), p)
  }

  test("q147: the runtime bloom filter prunes the fact scan before the shuffle") {
    // q147's entry collects inside its conf scope, so the lock rebuilds
    // the plan here under the same scoped threshold
    Relational.withBloomConfs(spark) {
      val df = Relational.bloomJoinPlan(spark, dir)
      df.queryExecution.toRdd.foreach(_ => ())
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"the fact side must be pruned by the injected bloom filter:\n$p")
      assert(p.contains("SortMergeJoin"), "merge hint must pin the shuffle-join regime: " + p)
      assert(p.contains("bloom_filter_agg") || p.contains("BloomFilterAggregate") ||
        p.contains("ObjectHashAggregate"),
        s"the filter must be built from the dim side's keys:\n$p")
    }
  }

  test("q150: substring removal is hash-keyed election + per-doc windows — no all-pairs") {
    val p = plan("q150_substring_removal")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("graft_gram_hashes"),
      "occurrences must come from the positional kernel: " + p)
    // winner election is a partial+final agg on the gram hash
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // every window partitions by doc_id (interval merge / segments) —
    // nothing windows over a corpus-wide key
    val winDefs = "windowspecdefinition\\(doc_id".r.findAllIn(p).size
    val allWins = "windowspecdefinition\\(".r.findAllIn(p).size
    assert(allWins > 0 && winDefs == allWins,
      s"all $allWins windows must be per-doc, only $winDefs are: $p")
  }

  test("q146: epoch replication explodes per-source factors; one admission window") {
    val p = plan("q146_epoch_mixture")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate explode"), "epoch fan-out must be a generator: " + p)
    // only the per-source admission window — same invariant as q142
    assert("windowspecdefinition\\(".r.findAllIn(p).size ==
      "windowspecdefinition\\(source".r.findAllIn(p).size, p)
  }

  test("q155: both medians broadcast back; no global sort window") {
    val p = plan("q155_robust_outliers")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), "quantile frames must broadcast: " + p)
    // the quantile engine's windows partition by (_pid, _g) or _g — never
    // an unpartitioned global window
    assert(!p.contains("windowspecdefinition(specifiedwindowframe"),
      "no unpartitioned window: " + p)
  }

  test("q159: perceptual candidates come from the band equi-join — never media x media") {
    val p = plan("q159_media_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "candidates must come from the band equi-join: " + p)
  }

  test("q167: all histogram columns come from ONE stack pass — no per-column re-scan") {
    // The quantile engine consumes a localCheckpoint of the unpivot, so
    // the unpivot itself is the only place a per-column re-scan could
    // exist: exactly one lineitem file scan feeding one stack generator.
    val up = Analytics.histUnpivot(graft.Tables.load(spark, dir, "lineitem"))
    val p = up.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 1, "one table pass: " + p)
    assert(p.contains("Generate stack"), "stack generator: " + p)
    // and the full query stays join-sane (offsets broadcast, no cartesian)
    val full = plan("q167_histograms")
    assert(!full.contains("CartesianProduct"), full)
    assert(full.contains("BroadcastHashJoin"), "rank offsets must broadcast: " + full)
  }

  test("q166: pair curation joins are equi/banded — never media x media") {
    val p = plan("q166_pair_curation")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // image drops from the band equi-join, caption drops from the digest
    // election join, survivors via anti-joins
    assert(p.contains("LeftAnti"), "survivor filter must be anti-joins: " + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q169: RRF arms pool via TakeOrdered — no global rank over the corpus") {
    val p = plan("q169_hybrid_rrf")
    assert(!p.contains("CartesianProduct"), p)
    // both arms bound their candidates with a limit-pushed sort, and the
    // corpus-sized frames never flow through an unpartitioned rank window
    // (the only windows run on the <= RrfPool pooled rows)
    assert(p.contains("TakeOrderedAndProject"), "arm pools must be top-k: " + p)
  }

  test("q173: packing offsets are per-source windows — never corpus-global") {
    val p = plan("q173_sequence_pack")
    assert(!p.contains("CartesianProduct"), p)
    // the running sum partitions by source; an unpartitioned window spec
    // (single-task prefix sum over the corpus) must not appear
    assert(p.contains("windowspecdefinition(source"), "per-source window: " + p)
  }

  test("q174: join-view delta is semi/equi joins — cost tracks affected keys") {
    // the gate's returned frame is the view READ (the joins ran inside
    // maintenance), so lock the delta stage's own plan: build the two
    // stores and plan one maintenance batch
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_plan").toString
    val o = graft.Tables.load(spark, dir, "orders")
    val c = graft.Tables.load(spark, dir, "customer")
    graft.cdc.CdcApplier.applyBatch(spark,
      graft.cdc.ChangeFeed.inserts(o, $"o_orderkey" * 10), s"$root/o",
      graft.cdc.CdcApplier.Options(Seq("o_orderkey")))
    graft.cdc.CdcApplier.applyBatch(spark,
      graft.cdc.ChangeFeed.inserts(c, $"c_custkey" * 10), s"$root/c",
      graft.cdc.CdcApplier.Options(Seq("c_custkey")))
    val env = graft.cdc.IncrementalView.joinViewDelta(spark, s"$root/o",
      s"$root/c", s"$root/v", 100L,
      o.filter($"o_orderkey" % 7 === 0).select($"o_orderkey"),
      c.filter($"c_custkey" % 5 === 0).select($"c_custkey"),
      "o_orderkey", "o_custkey", "c_custkey")
    env.queryExecution.toRdd.foreach(_ => ())
    val p = env.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), "affected-key pruning must be semi joins: " + p)
  }

  test("q144: winnow candidates come from a fingerprint equi-join — no all-pairs") {
    val p = plan("q144_winnow_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("graft_winnow"), "fingerprints must use the codegen kernel: " + p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q178: gopher matrix is doc-keyed aggs — no window, no cartesian") {
    val p = plan("q178_gopher_rules")
    assert(!p.contains("CartesianProduct"), p)
    // both rule arms reduce to doc_id-keyed partial+final aggregates
    // joined on the doc key; a corpus-wide window must never appear
    assert(!p.contains("windowspecdefinition"), "no window at any scope: " + p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("q179: DSIR ratio broadcasts onto one corpus pass; top-K is TakeOrdered") {
    val p = plan("q179_dsir")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), "budget selection must be top-k: " + p)
    // the vocab-sized ratio frame must come back as a broadcast, not a
    // corpus-sized shuffle join
    assert(p.contains("BroadcastHashJoin"), "ratio join must broadcast: " + p)
  }

  test("q180: each MMR round is anti-join + max-agg + per-qid window — no cartesian") {
    // the query's returned frame is a checkpoint scan (the greedy loop
    // materializes each round), so lock the ROUND plan itself
    import spark.implicits._
    val cand = Seq((1L, 10L, 0.9), (1L, 11L, 0.8)).toDF("qid", "vec_id", "rel")
    val sims = Seq((1L, 10L, 11L, 0.5)).toDF("qid", "va", "vb", "sim")
    val sel = Seq((1L, 1L, 10L, 0.63)).toDF("qid", "step", "vec_id", "score")
    val round = graft.ext.Similarity.mmrRound(cand, sims, sel, 2)
    round.queryExecution.toRdd.foreach(_ => ())
    val p = round.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // prior picks are excluded by anti-join (the greedy state lives in a
    // DataFrame, not a collected driver set)
    assert(p.contains("LeftAnti"), "round exclusion must be an anti-join: " + p)
    // the only rank window runs per-query (qid partition), never global
    assert(p.contains("windowspecdefinition(qid"), "per-query windows: " + p)
    // and the full query still plans/executes sanely end-to-end
    assert(!plan("q180_mmr_diversity").contains("CartesianProduct"))
  }

  test("q183: batching rank windows partition by length bucket — never corpus-global") {
    val p = plan("q183_length_batching")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(bucket"), "per-bucket window: " + p)
  }

  test("q187: WITH RECURSIVE plans as a union loop, not a cartesian/self-join blowup") {
    val p = plan("q187_recursive_cte")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.toLowerCase.contains("unionloop") || p.contains("CTERelation"),
      "recursive CTE must plan as Spark's UnionLoop: " + p)
  }

  test("q188: attribution pairs are a user equi-join; last-touch per-purchase window") {
    val p = plan("q188_attribution")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "window predicate must ride the user equi-join as a residual: " + p)
    assert(p.contains("windowspecdefinition(pid"), "per-purchase windows: " + p)
  }

  test("q189: winsorize cut points broadcast back onto the stream") {
    val p = plan("q189_winsorize")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), "cuts frame must broadcast: " + p)
  }

  test("q190: sweep arms filter one candidate join; windows per (nprobe, query)") {
    val p = plan("q190_ivf_recall_sweep")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(nprobe"), "per-arm rank windows: " + p)
  }

  test("q195-q199: the statistics pack stays agg-shaped — no cartesian, windows per-key") {
    for (q <- Seq("q195_benford", "q197_correlation", "q198_ab_test", "q199_ols_trend"))
      assert(!plan(q).contains("CartesianProduct"), q)
    val p196 = plan("q196_bot_signals")
    assert(!p196.contains("CartesianProduct"), p196)
    assert(p196.contains("windowspecdefinition(user_id"), "per-user gap window: " + p196)
    // correlation is one scan into a grouped partial+final agg
    val p197 = plan("q197_correlation")
    assert("HashAggregate".r.findAllIn(p197).size >= 2, p197)
  }

  test("q200: resample sandwich windows partition by type; no per-point probe join") {
    val p = plan("q200_resample")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(event_type"), "per-type windows: " + p)
  }

  test("q202: scene cuts are per-media windows over executor-side frames") {
    val p = plan("q202_scene_detect")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(media_id"), "per-media windows: " + p)
  }

  test("q203: the pipeline composition keeps every stage's proven shape") {
    val p = plan("q203_pipeline_e2e")
    assert(!p.contains("CartesianProduct"), p)
    // near-dup rejection is an anti-join; calibration and admission run
    // per-source windows; no media/doc all-pairs anywhere
    assert(p.contains("LeftAnti"), "near-dup stage must anti-join: " + p)
    assert(p.contains("windowspecdefinition(source"), "per-source windows: " + p)
  }

  test("q221: release stages keep their shapes — no cartesian, bucketed shard windows") {
    val p = plan("q221_release_capstone")
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct"), p)
    // pack runs per-source windows; shard assignment's corpus windows
    // partition by the 16-way permutation bucket (q140's shape) — an
    // empty windowspec partition list would be a single-partition sort
    assert(fin.contains("windowspecdefinition(source"), "per-source pack windows: " + p)
    assert(fin.contains("windowspecdefinition(bucket"), "bucketed shard windows: " + p)
    val globals = fin.linesIterator.filter(l =>
      l.contains("windowspecdefinition(") &&
        !l.contains("windowspecdefinition(source") &&
        !l.contains("windowspecdefinition(bucket") &&
        !l.contains("windowspecdefinition(tall")).toSeq
    assert(globals.isEmpty, s"unpartitioned corpus window:\n${globals.mkString("\n")}")
  }

  test("q222: index-served BM25 reads only the query terms' buckets") {
    val p = plan("q222_inverted_index")
    // the postings lookup bucket-prunes on the term prefix and pushes the
    // term IN-list for row-group skipping — query cost ∝ query terms'
    // postings, never the index
    assert(prunedScans(p).nonEmpty,
      s"postings scan must prune to the query terms' buckets:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("In(term")),
      s"the term IN-list must reach PushedFilters:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // df + corpus stats ride broadcasts (term-count and 1-row frames)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q204/q205: omnibus windows partition by priority; bag ops don't explode") {
    val p204 = plan("q204_window_omnibus")
    assert(!p204.contains("CartesianProduct"), p204)
    assert(p204.contains("windowspecdefinition(o_orderpriority"), p204)
    val p205 = plan("q205_bag_setops")
    assert(!p205.contains("CartesianProduct"), p205)
    // bag semantics must come from count-annotated set-op plans, not a
    // row-multiplying join
    assert(!p205.contains("BroadcastNestedLoopJoin"), p205)
  }

  test("q212: CUSUM runs as two per-type running windows — no sequential scan") {
    val p = plan("q212_cusum")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(event_type"), "per-type windows: " + p)
    assert(p.contains("BroadcastHashJoin"), "mean frame must broadcast: " + p)
  }

  test("q211: discrete-percentile rank windows partition by type") {
    val p = plan("q211_percentile_disc")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(event_type"), "per-type windows: " + p)
  }

  test("q191: skew arms are count aggs + TakeOrdered — no global rank over keys") {
    val p = plan("q191_skew_diagnostics")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), "top-N must be TakeOrdered: " + p)
    // the only rank windows run on the N survivors (partitioned by the
    // single-valued summary key), never over the full key frame
    assert(p.contains("windowspecdefinition(n_rows"), p)
  }

  test("q192: transition adjacency is a per-user lead window") {
    val p = plan("q192_event_transitions")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(user_id"), "per-user windows: " + p)
  }

  test("q184: label-prop vote is a keyed agg + per-node window — no cartesian") {
    val p = plan("q184_label_prop")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(v#"), "per-node argmax window: " + p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final vote agg: " + p)
  }

  test("q185: decontam seeds come from the broadcast bench-set equi-join; islands per-doc") {
    val p = plan("q185_decontam_spans")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), "bench hash set must broadcast: " + p)
    // the islands merge windows partition by doc — never corpus-wide
    assert(p.contains("windowspecdefinition(doc_id"), "per-doc windows: " + p)
  }

  test("q229: BFS layers are semi/anti equi-joins over the frontier — no cartesian, no window") {
    val p = plan("q229_bfs_layers")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("windowspecdefinition"), "no window fold: " + p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final layer agg: " + p)
    // the per-round joins live behind the round checkpoints in the gate's
    // final plan; lock the ROUND shape through the shared definition
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L)).toDF("v", "u")
    val frontier = Seq(1L).toDF("node")
    val visited = Seq((1L, 0L)).toDF("node", "dist")
    val round = graft.ext.Corpus.bfsRound(und, frontier, visited, 1)
    val rp = round.queryExecution.executedPlan.toString
    assert(rp.contains("LeftSemi"), "frontier semi-join: " + rp)
    assert(rp.contains("LeftAnti"), "visited anti-join: " + rp)
    assert(!rp.contains("CartesianProduct") && !rp.contains("BroadcastNestedLoopJoin"), rp)
  }

  test("q230: chunking is per-doc projection + digest-keyed aggs — no window, no joins") {
    val p = plan("q230_cdc_chunking")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "rollup needs no join at all: " + p)
    assert(!p.contains("windowspecdefinition"), "no corpus window: " + p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final rollup: " + p)
  }

  test("q186: gram synthesis windows partition by doc; one corpus pass") {
    val p = plan("q186_ngram_diversity")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(doc_id"), "per-doc lead windows: " + p)
    // one documents scan: count in the FINAL adaptive plan only (the AQE
    // toString appends an "== Initial Plan ==" section that repeats it)
    val df = SparkEntry.queries("q186_ngram_diversity")(spark, dir)
    df.queryExecution.toRdd.foreach(_ => ())
    val exec = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(exec).size == 1, "one documents scan: " + exec)
  }
}
