package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** Hash-bucketed parquet layout shared by the keyed stores
  * ([[GraphStore|graft.graph.GraphStore]] vertices/edges,
  * [[DocStore]] indices): each table lives as `__bucket=K`
  * subdirectories with K = murmur3(normalized key) % numBuckets.
  *
  * The point is incremental read-modify-write at 100 TB: a batch
  * computes the buckets it touches (a bounded ≤numBuckets-value
  * collect — metadata, not data), reads ONLY those via partition
  * pruning, merges, and swaps ONLY those directories through a staging
  * dir; every other bucket's files stay byte-identical on disk. A
  * batch of b distinct keys hashes into about N(1−e^(−b/N)) of the N
  * buckets, so once b ≥ N it rewrites nearly every bucket, whatever
  * the store's size: the write cost is bounded by the table size, not
  * by the batch. Rows are repartitioned on the bucket id before the
  * write so each bucket directory stays one file per write.
  *
  * This object is the ONLY owner of that protocol: the stores supply
  * a `combine` function to [[merge]] (ES `index`/`update`, Cypher
  * `MERGE`), and use [[deleteKeys]] (`es.delete`, `DETACH DELETE`) and
  * [[insertNew]]/[[storedKeys]] (the `es.exists` guard). The layout,
  * journal and crash recovery stay private.
  */
object BucketedParquet {

  val B = "__bucket"

  private def exists(dir: String): Boolean = Files.exists(Paths.get(dir))

  /** Null-safe normalized key strings (null → single space, so a null
    * key still buckets deterministically). */
  def keyStrings(keyCols: Seq[String]): Seq[Column] =
    keyCols.map(c => coalesce(col(c).cast("string"), lit(" ")))

  /** murmur3 over the normalized key strings, mod numBuckets. */
  def bucketOf(keyCols: Seq[String], numBuckets: Int): Column =
    pmod(hash(keyStrings(keyCols): _*), lit(numBuckets))

  /** The touched bucket ids of a batch: bounded by numBuckets, so the
    * collect is metadata-sized regardless of batch size. */
  def touchedBuckets(df: DataFrame, keyCols: Seq[String],
      numBuckets: Int): Seq[Int] =
    bucketIds(df.select(bucketOf(keyCols, numBuckets).as(B)))

  private def bucketIds(df: DataFrame): Seq[Int] =
    df.select(col(B)).distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** Whole-table read. mergeSchema because buckets written in
    * different eras may carry different column sets (a batch with new
    * columns only rewrites the buckets it touches). */
  def readAll(spark: SparkSession, dir: String): Option[DataFrame] =
    scan(spark, dir).map(_.drop(B))

  /** Read only the given buckets — partition pruning keeps the scan
    * off the untouched N−k directories. Rows keep their stored bucket
    * id [[B]]. */
  private def readBuckets(spark: SparkSession, dir: String,
      buckets: Seq[Int]): Option[DataFrame] =
    scan(spark, dir).map(_.filter(inBuckets(buckets)))

  private def scan(spark: SparkSession, dir: String): Option[DataFrame] = {
    recover(dir)
    if (exists(dir))
      Some(spark.read.option("mergeSchema", "true").parquet(dir))
    else None
  }

  private def inBuckets(ids: Seq[Int]): Column =
    col(B).isin(ids.map(Integer.valueOf): _*)

  /** Last-writer-wins within a batch: keep the LAST row per key, the
    * order a sequential bulk-API / UNWIND application would leave.
    * max_by hash-agg — one shuffle, no per-key sort. */
  private def dedupLastWins(batch: DataFrame, keyCols: Seq[String]): DataFrame = {
    val props = batch.columns.filterNot(keyCols.contains).toSeq
    if (props.isEmpty) batch.dropDuplicates(keyCols)
    else batch.withColumn("__ord", monotonically_increasing_id())
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(props.map(col): _*), col("__ord")).as("__s"))
      .select(keyCols.map(col) ++ props.map(c => col(s"__s.$c").as(c)): _*)
  }

  /** Keyed read-modify-write: dedup `batch` last-wins on `keyCols`,
    * read only the buckets it touches, write `combine(stored, deduped)`
    * back into exactly those buckets. `stored` is None for a new table.
    * The deduped batch is persisted for its two evaluations (touched
    * collect + combine) and released before returning. */
  def merge(dir: String, keyCols: Seq[String], batch: DataFrame,
      numBuckets: Int)(
      combine: (Option[DataFrame], DataFrame) => DataFrame): Unit = {
    val deduped = dedupLastWins(batch, keyCols).persist()
    try {
      val n = layoutBuckets(dir, numBuckets)
      val touched = touchedBuckets(deduped, keyCols, n)
      if (touched.nonEmpty) rewrite(dir, keyCols, n, touched, deduped)(combine)
    } finally deduped.unpersist()
  }

  private def rewrite(dir: String, keyCols: Seq[String], n: Int,
      touched: Seq[Int], rows: DataFrame)(
      combine: (Option[DataFrame], DataFrame) => DataFrame): Unit = {
    val stored = readBuckets(rows.sparkSession, dir, touched).map(_.drop(B))
    val merged = combine(stored, rows)
    writeBuckets(dir, merged.withColumn(B, bucketOf(keyCols, n)), touched,
      keyCols, n)
  }

  /** The stored key values among `candidates`' buckets — the
    * membership probe behind es.exists-style gates. Only the buckets
    * the candidate keys hash into are read, never the whole table. */
  def storedKeys(dir: String, keyCols: Seq[String], candidates: DataFrame,
      numBuckets: Int): DataFrame = {
    val keys = candidates.select(keyCols.map(col): _*)
    val buckets =
      touchedBuckets(keys, keyCols, layoutBuckets(dir, numBuckets))
    readBuckets(keys.sparkSession, dir, buckets)
      .fold(keys.limit(0))(_.select(keyCols.map(col): _*))
  }

  /** Insert ONLY batch rows whose key is not stored yet (the
    * `es.exists` guard; stored rows are never overwritten). Returns
    * the inserted rows, pinned with a localCheckpoint because callers
    * consume them AFTER the swap has replaced the files the anti-join
    * read. The anti-join reads the batch's buckets, but only buckets
    * RECEIVING a novel row are rewritten: a batch that is 99% already
    * stored leaves that 99%'s buckets untouched on disk. */
  def insertNew(dir: String, keyCols: Seq[String], batch: DataFrame,
      numBuckets: Int): DataFrame = {
    val deduped = dedupLastWins(batch, keyCols)
    val n = layoutBuckets(dir, numBuckets)
    val fresh = deduped
      .join(storedKeys(dir, keyCols, deduped, n), keyCols, "left_anti")
      .localCheckpoint(true)
    val touched = touchedBuckets(fresh, keyCols, n)
    if (touched.nonEmpty) rewrite(dir, keyCols, n, touched, fresh) {
      case (None, f) => f
      case (Some(stored), f) =>
        stored.unionByName(f, allowMissingColumns = true)
    }
    fresh
  }

  /** Delete-by-key: remove stored rows whose `matchCols` appear in
    * `keys`, rewriting ONLY buckets that actually lose a row — a
    * replayed tombstone or drain is a byte-level no-op. Candidate
    * buckets come from the keys when the table is laid out by exactly
    * `matchCols`; otherwise (e.g. an edge deleted by a SUBSET of its
    * identity) every bucket is a candidate and the key-column-pruned
    * semi-join scan finds the hit ones. Surviving rows keep their
    * STORED bucket. `keys` is evaluated several times, across the swap:
    * pass a materialized key set. */
  def deleteKeys(dir: String, matchCols: Seq[String], keys: DataFrame,
      numBuckets: Int): Unit = {
    val n = layoutBuckets(dir, numBuckets)
    val candidate =
      if (layoutKey(dir).contains(matchCols)) touchedBuckets(keys, matchCols, n)
      else 0 until n
    if (candidate.isEmpty) return
    readBuckets(keys.sparkSession, dir, candidate).foreach { stored =>
      val hit = bucketIds(stored.join(keys, matchCols, "left_semi"))
      if (hit.nonEmpty)
        writeBuckets(dir, stored.filter(inBuckets(hit))
          .join(keys, matchCols, "left_anti"), hit, matchCols, n)
    }
  }

  private def journalPath(dir: String) = Paths.get(dir + ".swap-journal")

  /** Complete a bucket swap interrupted mid-loop. The journal is
    * written only AFTER the staging dir is fully materialized, so the
    * staged buckets are the commit point and recovery ROLLS FORWARD:
    * a touched bucket whose staged dir still exists has not had its
    * second move (stage→live) yet — the old live (if any) goes to
    * trash and the staged version moves in; a touched bucket with no
    * staged dir has unambiguously finished its swap (the writer stages
    * an explicit EMPTY dir for touched buckets with zero surviving
    * rows, so "missing" can never mean "legitimately empty").
    * Idempotent, crash-safe to re-crash inside, and a no-op without a
    * journal — called from every read/write entry point. */
  private def recover(dir: String): Unit = {
    val j = journalPath(dir)
    if (!Files.exists(j)) return
    val staging = dir + ".staging"
    val trash = Paths.get(dir + ".trash")
    Files.createDirectories(trash)
    val touched = Files.readString(j).trim.split(",")
      .filter(_.nonEmpty).map(_.toInt)
    touched.foreach { k =>
      val live = Paths.get(s"$dir/$B=$k")
      val staged = Paths.get(s"$staging/$B=$k")
      if (Files.exists(staged)) {
        if (Files.exists(live)) {
          val t = trash.resolve(s"$B=$k")
          if (Files.exists(t)) deleteTree(t)
          Files.move(live, t)
        }
        Files.move(staged, live)
      }
    }
    deleteTree(Paths.get(staging))
    deleteTree(trash)
    Files.delete(j)
  }

  /** The key columns this table's buckets were laid out by (persisted
    * at first write so later callers can tell compute-pruning from
    * scan-discovery). */
  private def layoutKey(dir: String): Option[Seq[String]] = {
    val p = Paths.get(s"$dir/_BUCKET_KEY")
    if (Files.exists(p)) Some(Files.readString(p).split(",").toSeq) else None
  }

  /** The bucket count this table was laid out with. Persisted at first
    * write and AUTHORITATIVE from then on: a caller reopening the
    * store with a different `numBuckets` would otherwise compute wrong
    * touched sets and merge against the wrong directories. */
  private def layoutBuckets(dir: String, default: Int): Int = {
    val p = Paths.get(s"$dir/_NUM_BUCKETS")
    if (Files.exists(p)) Files.readString(p).trim.toInt else default
  }

  /** Stage the touched buckets, then swap ONLY their directories in.
    * `rows` must carry the bucket-id column [[B]]. */
  private def writeBuckets(dir: String, rows: DataFrame, touched: Seq[Int],
      markerKey: Seq[String], numBuckets: Int): Unit = {
    recover(dir)
    val staging = dir + ".staging"
    rows.repartition(col(B))
      .write.mode("overwrite").partitionBy(B).parquet(staging)
    if (!exists(dir)) {
      Files.move(Paths.get(staging), Paths.get(dir))
      Files.writeString(Paths.get(s"$dir/_BUCKET_KEY"),
        markerKey.mkString(","))
      Files.writeString(Paths.get(s"$dir/_NUM_BUCKETS"), numBuckets.toString)
      return
    }
    // Spark writes no partition dir for an empty bucket; materialize an
    // empty staged dir for every touched bucket so that during recovery
    // "no staged dir" can only mean "this bucket's swap already
    // finished" — otherwise a crash after journaling would leave an
    // all-rows-deleted bucket's old live dir in place forever.
    touched.foreach { k =>
      val staged = Paths.get(s"$staging/$B=$k")
      if (!Files.exists(staged)) Files.createDirectories(staged)
    }
    // commit point: staging is complete — journal the touched set so a
    // crash inside the move loop rolls FORWARD on next open instead of
    // leaving silently-missing buckets (see recover)
    Files.writeString(journalPath(dir), touched.mkString(","))
    // the swap IS the roll-forward: every touched bucket's staged dir
    // (empty if zero surviving rows — an empty live dir reads as zero
    // rows) replaces its live dir exactly as a recovering reader would
    recover(dir)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
}
