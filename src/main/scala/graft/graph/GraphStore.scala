package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.BucketedParquet

/** Property-graph vertex/edge store with Cypher-MERGE semantics over
  * Parquet (SURVEY §1.3, §2.9).
  *
  * One table per node label and per relationship type, keyed by the
  * label's constraint columns (e.g. Candidate→cand_id, Donor→(name,
  * zip_code), Race→5-tuple). `MERGE ... SET` becomes a keyed upsert:
  *
  *  - batch rows are deduped on the key (last-writer-wins inside a
  *    batch, like consecutive UNWIND rows hitting the same node);
  *  - existing rows keep their `uuid`, incoming property values
  *    overwrite (`SET` on every match); missing/new keys insert;
  *  - `ON CREATE SET uuid` — the uuid is minted only on first insert.
  *    It is derived deterministically from the identity key (md5-based
  *    UUIDv3-style) instead of a random apoc uuid, which preserves the
  *    reference's "stable once created" contract AND makes replays
  *    byte-identical (stronger idempotency than the original).
  *
  * Scale: tables are hash-bucketed via [[BucketedParquet]] — a MERGE
  * or DETACH-DELETE batch rewrites only the buckets it touches; the
  * untouched bucket files are left byte-identical on disk. A batch of
  * b distinct keys touches about N(1−e^(−b/N)) of the N buckets, so a
  * 1k-row amendment batch rewrites every bucket of a 16-bucket table.
  */
final class GraphStore(spark: SparkSession, baseDir: String,
    numBuckets: Int = 16) {

  private def vertexDir(label: String) = s"$baseDir/vertices/$label"
  private def edgeDir(tpe: String) = s"$baseDir/edges/$tpe"

  private def keyUuid(keyCols: Seq[String], kind: String,
      name: String): Column = {
    // deterministic uuid from the identity key: md5 → 8-4-4-4-12.
    // The \u0001 separator is load-bearing: without it, distinct
    // composite keys whose concatenations collide (("ann","ab") vs
    // ("anna","b")) — or a label/key boundary shift — would mint the
    // SAME uuid for different nodes.
    val h = md5(concat_ws("\u0001",
      (lit(kind) +: lit(name) +: BucketedParquet.keyStrings(keyCols)): _*))
    concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
  }

  def readVertices(label: String): Option[DataFrame] =
    BucketedParquet.readAll(spark, vertexDir(label))
  def readEdges(tpe: String): Option[DataFrame] =
    BucketedParquet.readAll(spark, edgeDir(tpe))

  /** MERGE semantics on a keyed table; see class doc. */
  private def mergeInto(dir: String, keyCols: Seq[String], batch: DataFrame,
      uuidCol: Column): Unit =
    BucketedParquet.merge(dir, keyCols, batch, numBuckets) { (stored, d) =>
      val deduped = d.withColumn("uuid", uuidCol)
      stored match {
        case None => deduped
        case Some(old) =>
          val propCols = deduped.columns.filterNot(keyCols.contains).toSeq
          val oldRenamed = old.select(
            (keyCols.map(col) ++
              old.columns.filterNot(keyCols.contains)
                .map(c => col(c).as(s"__old_$c"))): _*)
          val joined = deduped.join(oldRenamed, keyCols, "full_outer")
          // SET-on-match: incoming value wins when the batch row exists;
          // the uuid keeps the OLD value when present (ON CREATE only)
          val outCols = keyCols.map(col) ++ propCols.map { c =>
            val oldC = s"__old_$c"
            if (c == "uuid")
              (if (old.columns.contains("uuid"))
                coalesce(col(oldC), col(c)) else col(c)).as("uuid")
            else if (old.columns.contains(c))
              when(col("uuid").isNotNull, col(c)) // batch row present
                .otherwise(col(oldC)).as(c)
            else col(c).as(c)
          }
          joined.select(outCols: _*)
      }
    }

  /** MERGE a vertex batch: `batch` columns = keyCols ++ props. */
  def mergeVertices(label: String, keyCols: Seq[String],
      batch: DataFrame): Unit =
    mergeInto(vertexDir(label), keyCols,
      batch.drop("uuid"),
      keyUuid(keyCols, "v", label))

  /** MERGE an edge batch; identity = the endpoint keys (+ any identity
    * props like `subtype`/`linkage_id` included in keyCols). */
  def mergeEdges(tpe: String, keyCols: Seq[String], batch: DataFrame): Unit =
    mergeInto(edgeDir(tpe), keyCols, batch, keyUuid(keyCols, "e", tpe))

  /** Amendment tombstone (G8): DETACH DELETE by key — remove matching
    * vertices AND any edges in `edgeTypes` referencing them via
    * `edgeKeyCols` (the edge columns holding this label's key). Only
    * buckets that lose a row are rewritten, so a replayed tombstone
    * leaves the store byte-identical; see
    * [[BucketedParquet.deleteKeys]]. */
  def detachDelete(label: String, keyCols: Seq[String], keys: DataFrame,
      edges: Seq[(String, Seq[String])]): Unit = {
    val keysD = keys.select(keyCols.map(col): _*).distinct()
      // materialized once: reused to bucket + anti-join several tables
      .localCheckpoint(true)
    BucketedParquet.deleteKeys(vertexDir(label), keyCols, keysD, numBuckets)
    edges.foreach { case (tpe, edgeKeyCols) =>
      val renamedKeys = keysD.select(
        keyCols.zip(edgeKeyCols).map { case (k, ek) => col(k).as(ek) }: _*)
      BucketedParquet.deleteKeys(edgeDir(tpe), edgeKeyCols, renamedKeys,
        numBuckets)
    }
  }
}
