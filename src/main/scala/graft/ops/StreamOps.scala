package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.{FunnelIntake, IncrementalPipeline}

/** Batch ≡ stream equivalence as a DRIVER-GATE fact (round-12 verdict
  * ask #7): the streaming layer's equality proofs lived only in specs
  * — an intake regression could not flip the correctness gate red.
  * This module promotes the funnel-intake equivalence to a catalog
  * row: the row RUNS the real Structured Streaming engine in-process
  * (file source → `Trigger.AvailableNow` micro-batches →
  * `flatMapGroupsWithState` dedup state → upserting sink) over a
  * deterministic two-wave replay, and emits the stream-vs-batch
  * ledger. Both engines compute the batch side (survivor, unique and
  * duplicate-copy counts — the DuckDB oracle replays the funnel gates
  * and the keeper election in SQL); the stream side's convergence to
  * that truth is the pinned boolean pair, the T256 invariant-pinning
  * precedent.
  */
object StreamOps {

  /** T283: the streaming corpus intake ([[FunnelIntake]] — the SAME
    * gate expressions as filter_funnel, plus [[graft.streaming
    * .DedupState]]'s commutative min/count state) replayed over two
    * deterministic arrival waves (doc_id parity — arrival order ≠ id
    * order, so the keeper election is genuinely exercised), compared
    * field-by-field against the batch funnel's stage-5 → exact-unique
    * truth. Duplicates are injected by construction (every 7th doc
    * re-arrives under a shifted id), so the dedup state has real work:
    * the copies must lose the election to their originals in whatever
    * wave order the file source drains.
    *
    * Scale posture: the gates are narrow per-micro-batch map work and
    * the dedup state is one row per distinct surviving fingerprint
    * (the exact-dedup floor) — the production path. The equality
    * CHECK collects both final states to the driver; that is the
    * gate's verification step, bounded by the distinct-fingerprint
    * count of the test corpus, not part of the production flow (at
    * 100 TB the sink upserts to a store and equality is audited by
    * the store-side join this row compresses into one boolean). */
  def funnelStreamEq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"))
    val all = base.unionByName(
      base.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 10000000L))

    // batch truth: stage-5 survivors elect (min doc_id, copy count)
    // per fingerprint — the same aggregation DedupState increments
    val batch = TextOps.funnelFlags(all).filter(col("s5"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep"), count(lit(1)).as("copies"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val nUnique = batch.size.toLong
    val nSurvivors = batch.valuesIterator.map(_._2).sum

    // the two-wave streaming replay through the REAL engine; the
    // source dir + checkpoint are per-invocation scratch and must not
    // accumulate across repeated runs of the query (warm-up, timed) —
    // deleted in the finally once the sink map is drained
    val tmpPath = java.nio.file.Files
      .createTempDirectory("funnel_stream_eq")
    val tmp = tmpPath.toString
    val sink = scala.collection.mutable.Map.empty[String, (Long, Long)]
    // r14 (guide §2.2 — fewer, larger partitions): the stateful
    // micro-batches ran at the session's shuffle width, and EVERY state
    // partition pays a per-batch store open/commit — profiled 34 s of
    // state-store CPU behind ~1.2 s of wall for state that is one row
    // per distinct fingerprint. The stream runs in its own session at
    // 8 shuffle (= state) partitions, so the caller's session is never
    // touched; the checkpoint dir is per-invocation scratch, so the
    // pinned width never fights a prior checkpoint. The ledger is
    // width-independent — DedupState is keyed by fingerprint and
    // commutative — and the two-wave replay order is unchanged.
    val streamSession = s.newSession()
    streamSession.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      for (w <- 0 to 1)
        all.filter(pmod(col("doc_id"), lit(2)) === w)
          .coalesce(1).write.mode("append").parquet(s"$tmp/src")
      val schema = s.read.parquet(s"$tmp/src").schema
      IncrementalPipeline.runAvailableNow(
        streamSession, s"$tmp/src", schema, s"$tmp/ckpt",
        df => FunnelIntake.intake(df).toDF(),
        (b, _) => b.collect().foreach { r =>
          sink(r.getString(0)) = (r.getLong(1), r.getLong(2))
        },
        maxFilesPerTrigger = Some(1))
    } finally {
      // the WHOLE sweep is swallow-guarded: a cleanup IOException in
      // a finally would otherwise mask the real streaming failure;
      // the walk stream closes so the directory handle never leaks
      try {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(tmpPath)
        try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => try java.nio.file.Files.deleteIfExists(p)
            catch { case _: Throwable => () })
        finally walk.close()
      } catch { case _: Throwable => () }
    }

    val eqKeepers = sink.view.mapValues(_._1).toMap ==
      batch.view.mapValues(_._1).toMap
    val eqCopies = sink.view.mapValues(_._2).toMap ==
      batch.view.mapValues(_._2).toMap
    Seq((nSurvivors, nUnique, nSurvivors - nUnique, sink.size.toLong,
      eqKeepers, eqCopies))
      .toDF("n_survivors", "n_unique", "n_dup_copies", "stream_rows",
        "stream_eq_keepers", "stream_eq_copies")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "funnel_stream_eq" -> (funnelStreamEq _))

  /** The oracle replays the dup injection, the funnel gates and the
    * keeper election in SQL (the filter_funnel CTE shape over the
    * widened corpus); the two equality booleans are pinned TRUE —
    * the stream side has no SQL restatement, which is the point: the
    * engine computes them by comparing real streaming state to the
    * batch truth, and a divergence flips the hash red. stream_rows is
    * computed on both sides (engine: the sink's key count; oracle:
    * the distinct surviving fingerprints), so a sink that silently
    * drops or duplicates keys also diverges numerically. */
  val oracles: Map[String, String] = Map(
    "funnel_stream_eq" ->
      """WITH base AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, lang, text FROM documents
        |  WHERE doc_id % 7 = 0),
        |f AS (
        |  SELECT doc_id, lang,
        |    length(trim(text)) > 0 AS s2,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
        |    len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
        |    length(text) AS n_chars2,
        |    len(regexp_extract_all(lower(text),
        |      '\b(the|a|an|of|to|in|and|is|it|that|for|on|was|with|as|at|be|this|are|or)\b'))
        |      AS n_stop
        |  FROM base),
        |g AS (
        |  SELECT doc_id, fp,
        |    s2 AND lang = 'en' AND
        |      round(least(CAST(n_words AS DOUBLE) / 20.0, 1.0)
        |        * least(round(CAST(n_stop AS DOUBLE) / greatest(n_words, 1), 6) * 4.0, 1.0)
        |        * greatest(0.0, 1.0 - round(CAST(n_punct AS DOUBLE) / greatest(n_chars2, 1), 6) * 4.0), 6)
        |        >= 0.2
        |      AND n_words BETWEEN 20 AND 5000 AS s5
        |  FROM f),
        |k AS (
        |  SELECT fp, MIN(doc_id) AS keep, COUNT(*) AS copies
        |  FROM g WHERE s5 GROUP BY fp)
        |SELECT
        |  CAST(COALESCE(SUM(copies), 0) AS BIGINT) AS n_survivors,
        |  CAST(COUNT(*) AS BIGINT) AS n_unique,
        |  CAST(COALESCE(SUM(copies), 0) - COUNT(*) AS BIGINT)
        |    AS n_dup_copies,
        |  CAST(COUNT(*) AS BIGINT) AS stream_rows,
        |  TRUE AS stream_eq_keepers,
        |  TRUE AS stream_eq_copies
        |FROM k""".stripMargin)
}
