package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Retrieval / index-construction operators over the documents corpus —
  * the "build the serving artifacts" tier of the training-data pipeline
  * (a corpus this engine curates is also the corpus a retrieval system
  * indexes):
  *
  *  - q72 heavy hitters: the exact most-frequent terms above an n/k
  *    frequency threshold via the TWO-PASS bounded-memory idiom — pass 1
  *    generates a candidate superset with per-partition Misra-Gries
  *    summaries (O(k) memory per task, provably lossless for the
  *    threshold), pass 2 recounts ONLY the candidates exactly. The naive
  *    alternative (full groupBy term) shuffles the whole vocabulary;
  *    this shuffles k rows per partition plus the candidate counts.
  *  - q74 BM25: Okapi BM25 scores for a fixed query-term set, composed
  *    from the classic tf / df / dl / avgdl statistics — the scoring step
  *    of lexical retrieval, with every float op ordered identically in
  *    both engines so the oracle matches bit-for-bit.
  *
  * The reference (chenm11/mysql-hbase-replicator) has no retrieval
  * operators (it delegates all query capability to Spark SQL, see SURVEY
  * §0); these extend the documents-table surface like ext/Corpus.
  */
object Retrieval {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)
  private def SUMD(e: String): String = graft.util.Sumd.SUMD(e)

  /** Misra-Gries summary capacity (pass-1 memory bound per partition) and
    * the reported frequency threshold: terms with count*K > total. */
  val HhK = 200

  /** BM25 constants (Okapi defaults) and the fixed query-term set. The
    * (k1+1) numerator constant is written as the literal 2.2 in BOTH
    * engines so no engine ever computes 1.2+1. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Query: Seq[String] = Seq("data", "query", "spark")

  /** q169 reciprocal-rank-fusion geometry: standard k=60 damping, each
    * arm contributes its top-[[RrfPool]] candidates (RRF fuses BOUNDED
    * retrieved lists — the pool limit is what keeps the fusion top-k
    * shaped instead of a global corpus sort), final report top
    * [[RrfTopK]]. The dense arm's query is the embedding of vec_id
    * [[RrfQueryVec]]. */
  val RrfK = 60
  val RrfPool = 100
  val RrfTopK = 20
  val RrfQueryVec = 0L

  /** q249 two-stage geometry: three (query embedding, term set) pairs —
    * vec_id/doc_id spaces are aligned in the corpus, so qid N uses
    * embedding vec_id = N. Terms drawn from the synthetic corpus' stable
    * vocabulary (present at every sf); candidates per query C, final
    * top-k K. */
  val TwoStageQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("scan", "column", "order"),
    1L -> Seq("join", "merge", "group"),
    2L -> Seq("query", "key", "value"))
  val TwoStageC = 50
  val TwoStageK = 10

  /** q74's BM25 scorer — (doc_id, n_hit, score) for [[Bm25Query]]; shared
    * with the q169 sparse arm so the lexical scoring cannot drift between
    * the standalone gate and the fusion. */
  private[graft] def bm25Scores(docs: DataFrame): DataFrame = {
    val dl = docs.select(col("doc_id"),
      size(TextOps.words(col("text"))).cast("long").as("dl"))
    val tf = docs
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("term"))
      .filter(col("term").isin(Bm25Query: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    bm25FromStats(tf, dl)
  }

  /** The BM25 arithmetic over pre-computed statistics — ONE definition
    * serving both the corpus-scan path ([[bm25Scores]], q74/q169) and the
    * q222 INDEX-SERVED path (tf = the looked-up postings, dl = the doc-
    * length store): the scoring cannot drift between a fresh scan and an
    * incrementally-maintained index. `tf` = (doc_id, term, tf) for the
    * query terms; `dl` = (doc_id, dl) for every live doc. df per term
    * falls out of `tf` itself (the postings retrieved for a term ARE its
    * document set). */
  private[graft] def bm25FromStats(tf: DataFrame, dl: DataFrame): DataFrame =
    bm25FromStats(tf, dl, Nil)

  /** `extraKeys` generalization (q249): `tf` may carry additional key
    * columns (e.g. a query id) — df/scoring/grouping key on them too, so
    * one pass scores several term sets. df per (keys, term) equals the
    * term's global postings count whenever each (keys, term) retrieves the
    * full postings list, which is how every caller feeds it. */
  private[graft] def bm25FromStats(
      tf: DataFrame, dl: DataFrame, extraKeys: Seq[String]): DataFrame = {
    val stats = dl.agg(
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"),
      count(lit(1)).as("n_docs"))
    val dfreq = tf.groupBy((extraKeys :+ "term").map(col): _*)
      .agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), extraKeys :+ "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        ((col("n_docs") - col("df")).cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5)))
      .withColumn("sc",
        col("idf") * ((col("tf").cast("double") * lit(Bm25K1 + 1.0)) /
          (col("tf").cast("double") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) *
              (col("dl").cast("double") / col("avgdl"))))))
    scored.groupBy((extraKeys :+ "doc_id").map(col): _*)
      .agg(count(lit(1)).as("n_hit"), graft.util.Sumd.sumd(col("sc")).as("score"))
  }

  /** Two-stage retrieval, stage 1 (q249/q251 — ONE definition so the
    * sibling gates cannot drift): build the maintained inverted index +
    * doc-length store from the documents feed, then serve the top-
    * [[TwoStageC]] BM25 candidates PER QUERY from ONE bucket-pruned
    * lookup over the union of query terms, scored per query id by the
    * shared BM25 arithmetic. Returns (qid, doc_id). */
  private def twoStageCandidates(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import graft.cdc.{CdcApplier, ChangeFeed}
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_twostage").toString
    val post = root + "/postings"; val dlen = root + "/doclen"
    applyInvertedIndexBatch(s,
      ChangeFeed.inserts(docs, col("doc_id") * 10), post, dlen)
    val qtRows = TwoStageQueries.flatMap { case (qid, terms) =>
      terms.map(tm => (qid, tm))
    }
    val qt = s.createDataFrame(qtRows).toDF("qid", "term")
    val allTerms = s.createDataFrame(
      qtRows.map(_._2).distinct.map(Tuple1(_))).toDF("term")
    val postings = CdcApplier.pointLookup(s, post, allTerms)
      .select(col("doc_id"), col("term"), col("tf"))
    val dlSnap = CdcApplier.snapshot(s, dlen).select(col("doc_id"), col("dl"))
    val qids = TwoStageQueries.map(_._1)
    val cw = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    bm25FromStats(
        postings.join(broadcast(qt), Seq("term")), dlSnap, Seq("qid"))
      .filter(!col("doc_id").isin(qids.map(Long.box): _*))
      .withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= TwoStageC)
      .select(col("qid"), col("doc_id"))
  }

  /** Two-stage retrieval, stage 2's re-rank half (q249/q251): MaxSim over
    * the candidate rows (already joined to their target embeddings +
    * sub-norms), final top-[[TwoStageK]] per query. */
  private def twoStageRerank(tgt: DataFrame, qe: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rw = Window.partitionBy(col("qid"))
      .orderBy(col("maxsim").desc, col("tid"))
    tgt.join(broadcast(qe), Seq("qid"))
      .withColumn("maxsim", Similarity.maxSimCol)
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= TwoStageK)
      .select(col("qid").as("query_id"), col("rank"),
        col("tid").as("neighbor_id"), col("maxsim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q222's index-maintenance feed: the documents CDC envelope projected
    * to a MULTI-ENTRY (inverted) index — per changed doc, one posting row
    * per distinct term, PK (term, doc_id), term-bucketed. The single-entry
    * index feed (q123/q170) retires a moved key via the PK-move fan-out;
    * a SET-valued index generalizes that: terms present only in the
    * before-image become deletes, every after-image term upserts its
    * (term, doc_id, tf) — so a text edit retires exactly the dropped
    * terms' postings, a doc delete retires all of them, and last-writer-
    * wins per (term, doc_id) resolves multiple edits of one doc inside a
    * batch by position, like any other applier feed. Cost per batch ∝ the
    * changed docs' term sets (two image-keyed aggs + one anti-join) —
    * never the index or the corpus. */
  private[graft] def invertedIndexFeed(changes: DataFrame): DataFrame = {
    def pairs(img: String) = changes
      .filter(col(img).isNotNull)
      .select(col("next_position"), col(s"$img.doc_id").as("doc_id"),
        explode(TextOps.words(col(s"$img.text"))).as("term"))
      .groupBy(col("next_position"), col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val after = pairs("after")
    val removed = pairs("before")
      .join(after.select(col("next_position"), col("doc_id"), col("term")),
        Seq("next_position", "doc_id", "term"), "left_anti")
    def img = struct(col("term"), col("doc_id"), col("tf"))
    after.select(lit("insert").as("op"), col("next_position"),
        when(lit(false), img).as("before"), img.as("after"))
      .unionByName(removed.select(lit("delete").as("op"), col("next_position"),
        img.as("before"), when(lit(false), img).as("after")))
  }

  /** q222's doc-length store feed: the ordinary single-entry projected
    * index (q123's indexFeed shape) with the computed `dl` column. */
  private[graft] def doclenFeed(changes: DataFrame): DataFrame = {
    def img(side: String) = when(col(side).isNotNull,
      struct(col(s"$side.doc_id").as("doc_id"),
        size(TextOps.words(col(s"$side.text"))).cast("long").as("dl")))
    changes.select(col("op"), col("next_position"),
      img("before").as("before"), img("after").as("after"))
  }

  private[graft] def postingsOpts = graft.cdc.CdcApplier.Options(
    Seq("term", "doc_id"), bucketCols = Some(Seq("term")))
  private[graft] def doclenOpts = graft.cdc.CdcApplier.Options(Seq("doc_id"))

  /** One documents micro-batch into BOTH index stores — the q222 feeds
    * under the streaming contract. Exactly-once by the applier's per-key
    * position guard (both feeds are deterministic projections of the
    * batch, so a crash-replayed batch re-derives identical rows at
    * identical positions — q217/q218's idempotence-by-position). */
  private[graft] def applyInvertedIndexBatch(spark: SparkSession,
      batch: DataFrame, postDir: String, dlenDir: String): Unit = {
    if (batch.isEmpty) return
    graft.cdc.CdcApplier.applyBatch(spark, invertedIndexFeed(batch), postDir, postingsOpts)
    graft.cdc.CdcApplier.applyBatch(spark, doclenFeed(batch), dlenDir, doclenOpts)
    ()
  }

  /** Streaming inverted-index topology (q223): the q170 streaming-index
    * discipline for the MULTI-entry index — one checkpointed foreachBatch
    * maintains postings + doc-length stores from the documents CDC
    * envelope; a search deployment's index is live within one micro-batch
    * of its corpus. */
  def startInvertedIndex(changes: DataFrame, postDir: String, dlenDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyInvertedIndexBatch(batch.sparkSession, batch, postDir, dlenDir)
      }
      .start()

  /** q80 collocation thresholds: a bigram needs [[CollocMinCount]]
    * occurrences to be scored; the top [[CollocTopK]] by lift are kept. */
  val CollocMinCount = 5
  val CollocTopK = 20

  /** q106's fixed phrase (adjacent words, in order). Two terms keep the
    * hit count robust across scale factors (a longer phrase over this
    * synthetic vocabulary would match ~0 docs); the operator itself
    * chains one positional equi-join per additional term. */
  val PhraseQuery: Seq[String] = Seq("table", "value")

  /** One Misra-Gries pass over a partition's terms with `k` counters:
    * a hit increments; a miss inserts while capacity remains, else
    * decrements every counter and drops zeros (the arriving item is
    * consumed by that decrement round). Classic guarantee: any term with
    * partition frequency > n_p/(k+1) survives. Combined with pigeonhole
    * across partitions (global freq > n/k implies SOME partition has
    * local freq > n_p/k > n_p/(k+1)), the union of per-partition
    * summaries is a SUPERSET of every term with global count*k > n —
    * which is exactly what pass 2 recounts. */
  def misraGries(it: Iterator[String], k: Int): Iterator[String] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    while (it.hasNext) {
      val term = it.next()
      m.get(term) match {
        case Some(c) => m.update(term, c + 1)
        case None if m.size < k => m.update(term, 1L)
        case None =>
          m.mapValuesInPlace((_, c) => c - 1)
          m.filterInPlace((_, c) => c > 0)
      }
    }
    m.keysIterator
  }

  /** q233 retrieval-evaluation geometry: query docs (`doc_id %
    * [[RboQueryMod]] = 0`), [[RboTerms]] lexicographically-smallest
    * distinct terms per query doc, rankings truncated at [[RboK]], and the
    * integer df-weight scale for system A's scoring. RBO persistence
    * p = 1/2 is a DELIBERATE determinism choice: the geometric weights
    * 2^-(d-1) are exact binary doubles, so the fixed-order fold is
    * bit-identical cross-engine (q164's ordered-fold discipline) — no
    * libm pow anywhere. */
  val RboQueryMod = 100L
  val RboTerms = 3
  val RboK = 10
  val RboWScale = 1000000000000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- q233: retrieval EVALUATION — rank-biased overlap (Webber et
    //      al. TOIS 2010) between two retrieval systems + MRR of the
    //      known-relevant doc, the measurement layer over the retrieval
    //      family (q74 BM25, q169 RRF, q190 recall sweep, q222 index).
    //      Systems compared: A = df-weighted tf (weights as EXACT BIGINT
    //      `scale // df` — no floats in scoring), B = raw tf. Per query:
    //      truncated RBO@10 with p=1/2 (each depth's overlap X_d joins
    //      through greatest(ra, rb) <= d; weights exact powers of two;
    //      the per-depth terms fold in fixed d-order so the double sum is
    //      bit-identical cross-engine) and MRR contribution of the
    //      query's own source doc (ONE IEEE division, or 0 outside the
    //      cutoff). Scale shape: one tokenize pass feeds tf + df; scoring
    //      is a query-terms equi-join (cost ∝ posting lists, never the
    //      corpus); rankings are per-QUERY windows over scored docs; the
    //      depth expansion is queries × 10 rows against a result-sized
    //      overlap set (the one cross join, bounded by construction).
    "q233_retrieval_eval" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val words = docs.select(col("doc_id"),
        explode(TextOps.words(col("text"))).as("w"))
      val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val qt = {
        val qw = words.filter(col("doc_id") % RboQueryMod === 0)
          .select(col("doc_id").as("qid"), col("w")).distinct()
        val win = Window.partitionBy(col("qid")).orderBy(col("w"))
        qw.withColumn("rn", row_number().over(win))
          .filter(col("rn") <= RboTerms).select(col("qid"), col("w"))
      }
      val scores = qt.join(tf, Seq("w")).join(dft, Seq("w"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("tf") * expr(s"$RboWScale div df")).as("sa"),
          sum(col("tf")).as("sb"))
      val wA = Window.partitionBy(col("qid")).orderBy(col("sa").desc, col("doc_id"))
      val wB = Window.partitionBy(col("qid")).orderBy(col("sb").desc, col("doc_id"))
      val ranked = scores
        .withColumn("ra", row_number().over(wA))
        .withColumn("rb", row_number().over(wB))
        .localCheckpoint() // overlap, depth counts and MRR all read it
      val ov = ranked.filter(col("ra") <= RboK && col("rb") <= RboK)
        .select(col("qid"), greatest(col("ra"), col("rb")).as("dmin"))
      val qids = qt.select(col("qid")).distinct()
      val depths = s.range(1, RboK + 1).select(col("id").cast("int").as("d"))
      val xd = qids.crossJoin(broadcast(depths))
        .join(ov, Seq("qid"), "left")
        .groupBy(col("qid"), col("d"))
        .agg(sum(when(col("dmin") <= col("d"), 1L).otherwise(0L)).as("xd"))
      val termCol = (col("xd").cast("double") / col("d")) *
        (lit(1.0) / expr("shiftleft(CAST(1 AS BIGINT), CAST(d - 1 AS INT))")) *
        lit(0.5)
      val rbo = xd.select(col("qid"), col("d"), termCol.as("t"))
        .groupBy(col("qid"))
        .agg(aggregate(array_sort(collect_list(struct(col("d"), col("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("rbo"))
      val self = ranked.filter(col("doc_id") === col("qid") && col("ra") <= RboK)
        .select(col("qid"), col("ra"))
      qids.join(self, Seq("qid"), "left").join(rbo, Seq("qid"))
        .select(col("qid"),
          coalesce(col("ra"), lit(0)).cast("long").as("rank_self"),
          when(col("ra").isNull, lit(0.0)).otherwise(lit(1.0) / col("ra")).as("mrr"),
          col("rbo"))
        .repartition(1).sortWithinPartitions(col("qid"))
    }),

    // ---- q72: exact heavy hitters (count*K > corpus token total). Three
    //      corpus scans, each with bounded state: candidate generation
    //      (mapPartitions Misra-Gries, k counters per task, k rows
    //      emitted per task), the total count, and the candidate recount
    //      (broadcast semi-join on the <= k*partitions candidate set,
    //      then a partial+final aggregate over candidate rows only). No
    //      full-vocabulary shuffle ever happens, which at 100 TB is the
    //      difference between shuffling billions of (term, n) rows and
    //      shuffling thousands. The token stream is re-scanned rather
    //      than checkpointed: re-reading pruned parquet is cheaper than
    //      materializing the exploded token column at scale.
    "q72_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      def toks = t(s, dir, "documents")
        .select(explode(TextOps.words(col("text"))).as("term"))
      val cand = toks.select(col("term")).as[String]
        .mapPartitions(it => misraGries(it, HhK))
        .toDF("term").distinct()
      val total = toks.agg(count(lit(1)).as("n_total"))
      toks.join(broadcast(cand), "term")
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") * HhK > col("n_total"))
        .select(col("term"), col("cnt"), col("n_total"))
        .repartition(1).sortWithinPartitions(col("term"))
    }),

    // ---- q74: BM25 scoring of the fixed 3-term query over every doc
    //      containing at least one query term. Statistics plans: dl is a
    //      narrow projection; avgdl/N one tiny aggregate (broadcast); tf
    //      touches only query-term rows (the isin filter prunes before
    //      the aggregate); df is a 3-row aggregate over tf (broadcast).
    //      One equi-join on doc_id (tf x dl) carries the scoring; every
    //      IEEE op is ordered identically in the oracle, and the final
    //      per-doc sum over the <= 3 term scores goes through the
    //      engine-wide SUMD decimal convention so addend order cannot
    //      produce a last-ulp drift.
    "q74_bm25" -> ((s, dir) =>
      bm25Scores(t(s, dir, "documents"))
        .repartition(1).sortWithinPartitions(col("doc_id"))),

    // ---- q169: hybrid retrieval via reciprocal-rank fusion (Cormack,
    //      Clarke & Buettcher SIGIR 2009 — public) — the lexical+dense
    //      composition every modern retrieval stack ships: the BM25 arm
    //      (q74's scorer, shared verbatim) and the embedding-cosine arm
    //      (q50's graft_dot kernel against one query vector) each
    //      contribute their top-RrfPool candidates; fusion score =
    //      sum over arms of 1/(60 + rank), a rank-only combination that
    //      needs NO score calibration across arms (the reason RRF is the
    //      production default) and is engine-exact (one IEEE division per
    //      arm + one addition — no calibration floats). Scale shape: each
    //      arm pools via TakeOrderedAndProject (top-RrfPool per arm, no
    //      global sort); ranks are windows over the POOLED (bounded)
    //      frames; the fusion is a full-outer equi-join of two <= RrfPool
    //      row frames. An arm can rank docs the other never retrieves —
    //      the outer join with coalesce-to-0 is the semantics under test.
    // ---- q249: TWO-STAGE RETRIEVAL — the composition the scale story
    //      has been promising: stage 1 pulls top-C candidates PER QUERY
    //      from the maintained inverted index (q222's bucket-pruned
    //      postings lookup — the read touches only the query terms'
    //      buckets + the doc-length store, never the corpus), stage 2
    //      re-ranks ONLY those C with ColBERT-style MaxSim (q243's exact
    //      arithmetic via the shared maxSimCol) after fetching candidate
    //      embeddings through ONE equi-join — the q243 brute cross never
    //      happens. Three queries, each a (query embedding, term set)
    //      pair; candidates ranked by the index-served BM25 (one
    //      bm25FromStats pass keyed by query id), final top-k by MaxSim.
    //      100 TB: stage-1 cost ∝ query terms' postings; stage-2 cost ∝
    //      3C candidate embedding rows (candidates BROADCAST into the
    //      embeddings scan — on a bucketed embedding store this becomes
    //      the same point-lookup pruning as every other keyed fetch).
    //      Oracle: the identical two stages replayed declaratively —
    //      shared BM25 arithmetic, shared MaxSim SQL builders.
    "q249_two_stage_retrieval" -> ((s, dir) => {
      val cand = twoStageCandidates(s, dir)
      val qids = TwoStageQueries.map(_._1)
      // stage 2: fetch ONLY the candidates' embeddings (equi-join,
      // candidate side broadcast) and re-rank with the shared MaxSim
      val e = t(s, dir, "embeddings")
      val tgt = Similarity.withSubNorms(
        e.select(col("vec_id").as("tid"), col("embedding").as("te")), "t")
      val qe = Similarity.withSubNorms(
        e.filter(col("vec_id").isin(qids.map(Long.box): _*))
          .select(col("vec_id").as("qid"), col("embedding").as("qe")), "q")
      twoStageRerank(tgt.join(broadcast(cand), col("tid") === col("doc_id")), qe)
    }),

    // ---- q251: TWO-STAGE RETRIEVAL, KEYED FETCH — q249 with its one
    //      remaining full scan closed: stage 2's candidate-embedding fetch
    //      goes through a PK-BUCKETED graft store (vec_id PK) via
    //      [[graft.cdc.CdcApplier.pointLookup]] — bucket IN-list +
    //      pushed key IN-list, so the fetch reads the candidates' bucket
    //      dirs and row groups, never the embeddings table. The candidate
    //      set is localized ONCE (≤ 3·C rows by the stage-1 top-C
    //      construction — the same driver-bounded class as pointLookup's
    //      own key collects) so stage 1 does not re-execute for the
    //      lookup's bucket/key collects. In-gate audits: the fetch plan
    //      must carry the bucket partition IN-list and must not reference
    //      the embeddings parquet. Oracle: q249's, verbatim — the stages
    //      are semantically identical; only the fetch path changes. 100 TB:
    //      stage 1 ∝ query terms' postings, stage 2 ∝ C — END TO END now,
    //      with no table-sized read anywhere.
    "q251_two_stage_keyed_fetch" -> ((s, dir) => {
      import graft.cdc.{CdcApplier, ChangeFeed}
      val cand = twoStageCandidates(s, dir)
      val qids = TwoStageQueries.map(_._1)
      // embedding store: vec_id-bucketed graft target (built once per gate
      // run — in production this IS how the embeddings live)
      val e = t(s, dir, "embeddings")
      val estore = java.nio.file.Files.createTempDirectory("graft_twostage")
        .toString + "/embstore"
      CdcApplier.applyBatch(s, ChangeFeed.inserts(e, col("vec_id") * 10),
        estore, CdcApplier.Options(Seq("vec_id"), numBuckets = 16))
      // localize the ≤ 3·C candidate pairs once
      val candLocal = cand.collect().map(r => (r.getLong(0), r.getLong(1)))
      val candDf = broadcast(s.createDataFrame(candLocal.toIndexedSeq)
        .toDF("qid", "doc_id"))
      val keys = s.createDataFrame(
        (candLocal.map(_._2) ++ qids).distinct.toIndexedSeq.map(Tuple1(_)))
        .toDF("vec_id")
      val fetched = CdcApplier.pointLookup(s, estore, keys)
        .select(col("vec_id"), col("embedding"))
      val keyBuckets = CdcApplier.bucketIdsOf(s,
        (candLocal.map(_._2) ++ qids).distinct.toSeq.map(k =>
          Seq(lit(k).cast(e.schema("vec_id").dataType))), 16, None).distinct.size
      val plan = fetched.queryExecution.executedPlan.toString
      require(plan.linesIterator.exists(l => l.contains("GraftBatchScan") &&
          l.contains(s"buckets=$keyBuckets/") &&
          l.contains("PushedFilters") && l.contains("vec_id")),
        s"the candidate fetch must read exactly its keys' $keyBuckets buckets:\n" + plan)
      require(!plan.contains("embeddings"),
        "stage 2 must never scan the embeddings table:\n" + plan)
      val tgt = Similarity.withSubNorms(
        fetched.join(candDf, col("vec_id") === col("doc_id"))
          .select(col("qid"), col("vec_id").as("tid"), col("embedding").as("te"),
            col("doc_id")), "t")
      val qe = Similarity.withSubNorms(
        fetched.filter(col("vec_id").isin(qids.map(Long.box): _*))
          .select(col("vec_id").as("qid"), col("embedding").as("qe")), "q")
      twoStageRerank(tgt, qe)
    }),

    // ---- q222: INCREMENTAL INVERTED INDEX + index-served BM25 — the
    //      search-engine composition of the CDC applier (§2.1) with the
    //      retrieval surface: a (term, doc_id, tf) postings table (PK
    //      (term, doc_id), TERM-bucketed) and a (doc_id, dl) length store,
    //      both maintained from the documents CDC envelope through
    //      invertedIndexFeed/doclenFeed — the multi-entry generalization
    //      of q123's secondary index. The lifecycle plants every hazard:
    //      text edits that CHANGE query-term tf and dl (%5=1 docs gain
    //      ' spark spark query'), doc deletes (%7=2, images carrying the
    //      edited text), and edit-then-delete docs. Serving: the fixed
    //      3-term query is a BUCKET-PRUNED prefix pointLookup on the
    //      postings table (≤3 term buckets read; df per term = the
    //      retrieved postings count — exact, no extra pass) + the doc-
    //      length store for dl/avgdl/n_docs, scored by bm25FromStats —
    //      the SAME arithmetic as q74's corpus scan, so index-served and
    //      scan-served retrieval cannot drift. At 100 TB: maintenance per
    //      batch ∝ changed docs' term sets; query cost ∝ query terms'
    //      postings + a doc-count-sized store agg — never a corpus scan.
    //      Oracle: q74's shared CTE chain over the declaratively-mutated
    //      final corpus.
    "q222_inverted_index" -> ((s, dir) => {
      import graft.cdc.{CdcApplier, ChangeFeed}
      val docs = t(s, dir, "documents")
      val root = java.nio.file.Files.createTempDirectory("graft_invidx").toString
      val post = root + "/postings"; val dlen = root + "/doclen"
      def applyDocBatch(changes: DataFrame): Unit =
        applyInvertedIndexBatch(s, changes, post, dlen)
      val b2base = 10000000L
      val edited = concat(col("text"), lit(" spark spark query"))
      val cur1 = docs.withColumn("text",
        when(col("doc_id") % 5 === 1, edited).otherwise(col("text")))
      applyDocBatch(ChangeFeed.inserts(docs, col("doc_id") * 10))
      applyDocBatch(
        ChangeFeed.updates(docs.filter(col("doc_id") % 5 === 1),
            Map("text" -> edited), col("doc_id") * 10 + 3 + b2base)
          .union(ChangeFeed.deletes(cur1.filter(col("doc_id") % 7 === 2),
            col("doc_id") * 10 + 5 + b2base)))
      // serve: term-bucket-pruned postings lookups + the length store
      val qterms = s.createDataFrame(
        s.sparkContext.parallelize(Bm25Query.map(org.apache.spark.sql.Row(_))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("term",
            org.apache.spark.sql.types.StringType))))
      val postings = CdcApplier.pointLookup(s, post, qterms)
        .select(col("doc_id"), col("term"), col("tf"))
      val dlSnap = CdcApplier.snapshot(s, dlen).select(col("doc_id"), col("dl"))
      bm25FromStats(postings, dlSnap)
        .orderBy(col("doc_id"))
    }),

    // ---- q223: the STREAMING deployment of q222 — the same lifecycle
    //      as two micro-batches through startInvertedIndex's checkpointed
    //      foreachBatch (q170's streaming-index discipline, multi-entry
    //      form), the last micro-batch re-delivered (crash replay -> no-op
    //      by the applier's position guard), then the identical index-
    //      served BM25 read. Shares q222's oracle verbatim (q137/q149/
    //      q170's one-decision-procedure discipline).
    "q223_stream_inverted_index" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import graft.cdc.{CdcApplier, ChangeFeed, EnvelopeRow}
      val docs = t(s, dir, "documents")
      val root = java.nio.file.Files.createTempDirectory("graft_sinvidx").toString
      val post = root + "/postings"; val dlen = root + "/doclen"

      def toEnvelope(changes: org.apache.spark.sql.DataFrame): Array[EnvelopeRow] =
        graft.cdc.FeedMemo.toEnvelope(changes, "documents")
      val b2base = 10000000L
      val edited = concat(col("text"), lit(" spark spark query"))
      val cur1 = docs.withColumn("text",
        when(col("doc_id") % 5 === 1, edited).otherwise(col("text")))
      val envBatches = Seq(
        toEnvelope(ChangeFeed.inserts(docs, col("doc_id") * 10)),
        toEnvelope(ChangeFeed.updates(docs.filter(col("doc_id") % 5 === 1),
            Map("text" -> edited), col("doc_id") * 10 + 3 + b2base)
          .union(ChangeFeed.deletes(cur1.filter(col("doc_id") % 7 === 2),
            col("doc_id") * 10 + 5 + b2base))))

      def parse(df: DataFrame): DataFrame =
        df.select(col("op"), col("next_position"),
          from_json(col("before_json"), docs.schema).as("before"),
          from_json(col("after_json"), docs.schema).as("after"))
      val src = MemoryStream[EnvelopeRow]
      val q = startInvertedIndex(parse(src.toDF()), post, dlen, s"$root/ckpt")
      // ONE addData per lifecycle batch (monotone-position feed contract)
      try envBatches.foreach { rows =>
        src.addData(rows.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
      // crash replay of the last micro-batch: exact no-op by position guard
      applyInvertedIndexBatch(s,
        parse(s.createDataset(envBatches.last.toIndexedSeq).toDF()), post, dlen)

      val qterms = s.createDataFrame(
        s.sparkContext.parallelize(Bm25Query.map(org.apache.spark.sql.Row(_))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("term",
            org.apache.spark.sql.types.StringType))))
      val postings = CdcApplier.pointLookup(s, post, qterms)
        .select(col("doc_id"), col("term"), col("tf"))
      val dlSnap = CdcApplier.snapshot(s, dlen).select(col("doc_id"), col("dl"))
      bm25FromStats(postings, dlSnap)
        .orderBy(col("doc_id"))
    }),

    "q169_hybrid_rrf" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      def pool(df: DataFrame, scoreCol: String, rankName: String) = df
        .orderBy(col(scoreCol).desc, col("doc_id")).limit(RrfPool)
        .withColumn(rankName, row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col(scoreCol).desc, col("doc_id"))).cast("long"))
        .select(col("doc_id"), col(rankName))
      val sparse = pool(bm25Scores(t(s, dir, "documents")), "score", "r_sparse")
      val e = t(s, dir, "embeddings")
        .withColumn("nrm", sqrt(Similarity.dotd(col("embedding"), col("embedding"))))
      val qv = e.filter(col("vec_id") === RrfQueryVec)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val dense = pool(
        e.crossJoin(broadcast(qv))
          .withColumn("cos", Similarity.cosd(col("qe"), col("qn"),
            col("embedding"), col("nrm")))
          .select(col("vec_id").as("doc_id"), col("cos")),
        "cos", "r_dense")
      sparse.join(dense, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(RrfK) + col("r_sparse")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("r_dense")), lit(0.0)))
        .orderBy(col("rrf").desc, col("doc_id")).limit(RrfTopK)
        .select(col("doc_id"), col("r_sparse"), col("r_dense"), col("rrf"))
    }),

    // ---- q80: collocations — adjacent word pairs ranked by PMI lift
    //      p(ab)/(p(a)p(b)), the phrase-mining step of vocabulary /
    //      tokenizer construction (a high-lift bigram is a candidate
    //      multi-word token). Bigrams come from a codegen'd zip_with over
    //      each doc's token array (narrow); unigram and bigram counts are
    //      partial+final aggregates on their term keys; the two unigram
    //      lookups are plain equi-joins (the vocabulary frame is NOT
    //      assumed broadcast-sized). Lift is computed in double with the
    //      exact operand order mirrored in the oracle — the all-integer
    //      form cab*nu^2/(ca*cb*nbg) would overflow int64 at real corpus
    //      sizes. Top-K is TakeOrderedAndProject on a fully deterministic
    //      (lift, bigram) key — never a global sort.
    "q80_collocations" -> ((s, dir) => {
      val docsW = t(s, dir, "documents")
        .select(TextOps.words(col("text")).as("ws"))
      // both count frames are checkpointed because each feeds TWO
      // consumers (the joins/filter AND its own total) — re-deriving the
      // totals from the aggregates costs a vocabulary-sized scan instead
      // of a second full corpus tokenize+explode (q69's discipline)
      val uc = docsW.select(explode(col("ws")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val nu = uc.agg(sum(col("c")).as("nu"))
      val bcAll = docsW.filter(size(col("ws")) >= 2)
        .select(explode(zip_with(
          slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("cab"))
        .localCheckpoint()
      val nbg = bcAll.agg(sum(col("cab")).as("nbg"))
      val bc = bcAll.filter(col("cab") >= CollocMinCount)
      bc.withColumn("a", split(col("g"), " ").getItem(0))
        .withColumn("b", split(col("g"), " ").getItem(1))
        .join(uc.withColumnRenamed("t", "a").withColumnRenamed("c", "ca"), "a")
        .join(uc.withColumnRenamed("t", "b").withColumnRenamed("c", "cb"), "b")
        .crossJoin(broadcast(nu))
        .crossJoin(broadcast(nbg))
        .withColumn("lift",
          ((col("cab").cast("double") * col("nu").cast("double"))
            / (col("ca").cast("double") * col("cb").cast("double")))
            * (col("nu").cast("double") / col("nbg").cast("double")))
        .select(col("g").as("bigram"), col("cab"), col("ca"), col("cb"), col("lift"))
        .orderBy(col("lift").desc, col("bigram"))
        .limit(CollocTopK)
    }),

    // ---- q106: exact phrase search over positional postings — the
    //      retrieval op BM25's bag-of-words scoring cannot express
    //      ("table value" as ADJACENT words in order, not co-occurrence).
    //      The postings projection (doc_id, pos, word) is the inverted
    //      index's logical form; each phrase term prunes it to that
    //      term's postings (at scale the index is partitioned by term, so
    //      these are index lookups, never corpus scans), and followers
    //      join by shifting their positions back i places — a pure
    //      equi-join on (doc_id, pos) per term, chainable to any phrase
    //      length, never a cartesian. Output: per-doc occurrence count
    //      and first match position.
    "q106_phrase_search" -> ((s, dir) => {
      val post = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(TextOps.words(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("w"))
      val start = post.filter(col("w") === PhraseQuery.head)
        .select(col("doc_id"), col("pos"))
      val matched = PhraseQuery.zipWithIndex.tail.foldLeft(start) {
        case (acc, (term, i)) =>
          acc.join(post.filter(col("w") === term)
              .select(col("doc_id"), (col("pos") - i).as("pos")),
            Seq("doc_id", "pos"))
      }
      matched.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
        .repartition(1).sortWithinPartitions(col("doc_id"))
    })
  )

  /** The q74/q169/q222 shared BM25 oracle chain ending in
    * `bm(doc_id, n_hit, score)` — the SQL twin of [[bm25Scores]],
    * parameterized by the corpus relation (q222 scores the declaratively
    * MUTATED corpus its index was maintained to). */
  private def bm25CtesFrom(from: String): String = {
    val terms = Bm25Query.map(q => s"'$q'").mkString(", ")
    s"""d AS (
        SELECT doc_id,
          len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS dl
        FROM $from),
      stats AS (
        SELECT CAST(sum(dl) AS BIGINT)::DOUBLE / count(*)::DOUBLE AS avgdl,
          CAST(count(*) AS BIGINT) AS n_docs
        FROM d),
      w AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM $from),
      tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM w WHERE term IN ($terms) GROUP BY doc_id, term),
      dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      scored AS (
        SELECT t.doc_id,
          (((s.n_docs - f.df)::DOUBLE + 0.5) / (f.df::DOUBLE + 0.5))
            * ((t.tf::DOUBLE * ${Bm25K1 + 1.0}) /
               (t.tf::DOUBLE + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B *
                 (d.dl::DOUBLE / s.avgdl)))) AS sc
        FROM tf t
        JOIN dfreq f USING (term)
        JOIN d USING (doc_id)
        CROSS JOIN stats s),
      bm AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit, ${SUMD("sc")} AS score
        FROM scored GROUP BY doc_id)"""
  }

  private val invertedIndexOracle: String = s"""
      WITH cur AS MATERIALIZED (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 1 THEN text || ' spark spark query'
               ELSE text END AS text
        FROM documents WHERE doc_id % 7 <> 2),
      ${bm25CtesFrom("cur")}
      SELECT doc_id, n_hit, score FROM bm ORDER BY doc_id"""

  /** Two-stage retrieval oracle — shared by q249 (broadcast-join fetch)
    * and q251 (bucketed-store keyed fetch): identical semantics, so ONE
    * declarative replay gates both. */
  private lazy val twoStageOracleSql: String = {
    val qtVals = TwoStageQueries.flatMap { case (q, ts) =>
      ts.map(tm => s"($q, '$tm')")
    }.mkString(", ")
    val qidList = TwoStageQueries.map(_._1).mkString(", ")
    s"""
      WITH d AS (
        SELECT doc_id,
          len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS dl
        FROM documents),
      stats AS (
        SELECT CAST(sum(dl) AS BIGINT)::DOUBLE / count(*)::DOUBLE AS avgdl,
          CAST(count(*) AS BIGINT) AS n_docs
        FROM d),
      w AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents),
      qt(qid, term) AS (VALUES $qtVals),
      tf AS (
        SELECT q.qid, w.doc_id, w.term, CAST(count(*) AS BIGINT) AS tf
        FROM w JOIN qt q ON q.term = w.term
        GROUP BY q.qid, w.doc_id, w.term),
      dfreq AS (
        SELECT qid, term, CAST(count(*) AS BIGINT) AS df
        FROM tf GROUP BY qid, term),
      scored AS (
        SELECT t.qid, t.doc_id,
          (((s.n_docs - f.df)::DOUBLE + 0.5) / (f.df::DOUBLE + 0.5))
            * ((t.tf::DOUBLE * ${Bm25K1 + 1.0}) /
               (t.tf::DOUBLE + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B *
                 (d.dl::DOUBLE / s.avgdl)))) AS sc
        FROM tf t
        JOIN dfreq f ON f.qid = t.qid AND f.term = t.term
        JOIN d ON d.doc_id = t.doc_id
        CROSS JOIN stats s),
      bm AS (
        SELECT qid, doc_id, ${SUMD("sc")} AS score
        FROM scored GROUP BY qid, doc_id),
      cand AS (
        SELECT qid, doc_id FROM (
          SELECT qid, doc_id,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS crank
          FROM bm WHERE doc_id NOT IN ($qidList)) x
        WHERE crank <= $TwoStageC),
      ${Similarity.maxSimSubnCtesSql},
      pairs AS (
        SELECT c.qid AS query_id, c.doc_id AS neighbor_id,
          ${Similarity.maxSimScoreSql} AS maxsim
        FROM cand c
        JOIN subn q ON q.vec_id = c.qid
        JOIN subn t ON t.vec_id = c.doc_id)
      SELECT query_id, rank, neighbor_id, maxsim FROM (
        SELECT query_id, neighbor_id, maxsim,
          ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY maxsim DESC, neighbor_id) AS rank
        FROM pairs) x
      WHERE rank <= $TwoStageK
      ORDER BY query_id, rank"""
  }

  val oracles: Map[String, String] = Map(
    // q233: the same two scorings, rankings, depth overlaps and ordered
    // fold, declaratively.
    "q233_retrieval_eval" -> s"""
      WITH words AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents),
      tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
             FROM words GROUP BY doc_id, w),
      dft AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
      qt AS (
        SELECT qid, w FROM (
          SELECT qid, w, row_number() OVER (PARTITION BY qid ORDER BY w) AS rn
          FROM (SELECT DISTINCT doc_id AS qid, w FROM words
                WHERE doc_id % $RboQueryMod = 0))
        WHERE rn <= $RboTerms),
      scores AS (
        SELECT qt.qid, t.doc_id,
          CAST(sum(t.tf * ($RboWScale // d.df)) AS BIGINT) AS sa,
          CAST(sum(t.tf) AS BIGINT) AS sb
        FROM qt JOIN tf t USING (w) JOIN dft d USING (w)
        GROUP BY qt.qid, t.doc_id),
      ranked AS (
        SELECT qid, doc_id,
          row_number() OVER (PARTITION BY qid ORDER BY sa DESC, doc_id) AS ra,
          row_number() OVER (PARTITION BY qid ORDER BY sb DESC, doc_id) AS rb
        FROM scores),
      ov AS (SELECT qid, greatest(ra, rb) AS dmin FROM ranked
             WHERE ra <= $RboK AND rb <= $RboK),
      qd AS (SELECT DISTINCT qid, r.d FROM qt, range(1, ${RboK + 1}) r(d)),
      xd AS (
        SELECT qd.qid, qd.d,
          CAST(sum(CASE WHEN ov.dmin <= qd.d THEN 1 ELSE 0 END) AS BIGINT) AS xd
        FROM qd LEFT JOIN ov ON ov.qid = qd.qid
        GROUP BY qd.qid, qd.d),
      trm AS (
        SELECT qid, d,
          (CAST(xd AS DOUBLE) / d) * (1.0 / (1 << (d - 1))) * 0.5 AS t
        FROM xd),
      rbo AS (
        SELECT qid,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY d)),
            (a, b) -> a + b) AS rbo
        FROM trm GROUP BY qid),
      slf AS (SELECT qid, ra FROM ranked WHERE doc_id = qid AND ra <= $RboK)
      SELECT q.qid, CAST(COALESCE(s.ra, 0) AS BIGINT) AS rank_self,
        CASE WHEN s.ra IS NULL THEN 0.0 ELSE 1.0 / s.ra END AS mrr,
        r.rbo
      FROM (SELECT DISTINCT qid FROM qt) q
      LEFT JOIN slf s USING (qid)
      JOIN rbo r USING (qid)
      ORDER BY q.qid""",

    "q72_heavy_hitters" -> s"""
      WITH w AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM w)
      SELECT term, CAST(count(*) AS BIGINT) AS cnt, (SELECT n_total FROM tot) AS n_total
      FROM w
      GROUP BY term
      HAVING count(*) * $HhK > (SELECT n_total FROM tot)
      ORDER BY term""",

    "q74_bm25" -> s"""
      WITH ${bm25CtesFrom("documents")}
      SELECT doc_id, n_hit, score FROM bm ORDER BY doc_id""",

    // q249/q251: both stages replayed declaratively — the per-query BM25
    // chain (shared arithmetic), the top-C cut, then the shared MaxSim
    // builders over exactly the candidate pairs. ONE oracle gates both
    // fetch paths (q251 changes only HOW stage 2 reads the embeddings —
    // keyed store lookup instead of a table scan — never what it computes).
    "q251_two_stage_keyed_fetch" -> twoStageOracleSql,
    "q249_two_stage_retrieval" -> twoStageOracleSql,


    // q222/q223: the index-served scores must equal the shared BM25 chain
    // over the MUTATED final corpus (edits applied, deletions gone) — a
    // stale posting, a missed tf update, or a leaked tombstone breaks the
    // hash. ONE text gates batch and streaming maintenance.
    "q222_inverted_index" -> invertedIndexOracle,
    "q223_stream_inverted_index" -> invertedIndexOracle,

    // q169: the shared BM25 chain's scores pooled to top-RrfPool, the
    // q50-fold cosine arm likewise, RRF = 1/(60+rank) summed over a FULL
    // JOIN of the pools (an arm can retrieve docs the other never saw).
    "q169_hybrid_rrf" -> s"""
      WITH ${bm25CtesFrom("documents")},
      spool AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_sparse
        FROM (SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id
              LIMIT $RrfPool) sp),
      e AS (
        SELECT vec_id, embedding,
          sqrt(${Similarity.dotSql("embedding", "embedding")}) AS nrm
        FROM embeddings),
      qv AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = $RrfQueryVec),
      dn AS (
        SELECT vec_id AS doc_id,
          ${Similarity.dotSql("qe", "embedding")} / (qn * nrm) AS cos
        FROM e, qv),
      dpool AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r_dense
        FROM (SELECT doc_id, cos FROM dn ORDER BY cos DESC, doc_id
              LIMIT $RrfPool) dp),
      fused AS (
        SELECT coalesce(s.doc_id, d.doc_id) AS doc_id, s.r_sparse, d.r_dense,
          coalesce(1.0::DOUBLE / (($RrfK + s.r_sparse)::DOUBLE), 0.0::DOUBLE) +
          coalesce(1.0::DOUBLE / (($RrfK + d.r_dense)::DOUBLE), 0.0::DOUBLE) AS rrf
        FROM spool s FULL JOIN dpool d ON s.doc_id = d.doc_id)
      SELECT doc_id, r_sparse, r_dense, rrf
      FROM fused ORDER BY rrf DESC, doc_id LIMIT $RrfTopK""",

    "q80_collocations" -> s"""
      WITH d AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
      uni AS (SELECT unnest(ws) AS t FROM d),
      uc AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY t),
      nu AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM uni),
      bg AS (
        SELECT unnest(list_transform(range(1, len(ws)),
          i -> ws[i] || ' ' || ws[i + 1])) AS g
        FROM d WHERE len(ws) >= 2),
      nbg AS (SELECT CAST(count(*) AS BIGINT) AS nbg FROM bg),
      bc AS (
        SELECT g, CAST(count(*) AS BIGINT) AS cab FROM bg GROUP BY g
        HAVING count(*) >= $CollocMinCount)
      SELECT bc.g AS bigram, bc.cab, ua.c AS ca, ub.c AS cb,
        ((bc.cab::DOUBLE * nu.nu::DOUBLE) / (ua.c::DOUBLE * ub.c::DOUBLE))
          * (nu.nu::DOUBLE / nbg.nbg::DOUBLE) AS lift
      FROM bc
      JOIN uc ua ON ua.t = split_part(bc.g, ' ', 1)
      JOIN uc ub ON ub.t = split_part(bc.g, ' ', 2)
      CROSS JOIN nu CROSS JOIN nbg
      ORDER BY lift DESC, bigram
      LIMIT $CollocTopK""",

    // Positional postings, follower joined one place ahead.
    "q106_phrase_search" -> s"""
      WITH d AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        FROM documents),
      p AS (
        SELECT doc_id, ws, unnest(range(1, CAST(len(ws) AS BIGINT) + 1)) AS i
        FROM d),
      post AS (
        SELECT doc_id, i AS pos, ws[CAST(i AS INT)] AS w FROM p)
      SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        CAST(min(a.pos) AS BIGINT) AS first_pos
      FROM post a JOIN post b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      WHERE a.w = '${PhraseQuery.head}' AND b.w = '${PhraseQuery(1)}'
      GROUP BY a.doc_id
      ORDER BY a.doc_id"""
  )
}
