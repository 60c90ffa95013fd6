package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Keyed document store over Parquet with the reference's two ES write
  * modes (SURVEY K1/K2):
  *
  *  - `index`: overwrite-by-id (`_op_type: index`, e.g.
  *    `load_elastic_candidates/main.py:50-82`);
  *  - `upsert`: merge-by-key partial update (`update` + `doc_as_upsert`
  *    + retry_on_conflict, e.g. `load_elastic_contributions/
  *    main.py:190-196`): incoming non-null top-level fields replace,
  *    missing fields keep the stored value, and STRUCT fields merge
  *    field-wise one level deep — so a writer that only sets
  *    `context.last_graphed` does not clobber `context.last_indexed`
  *    (exactly how the partial-doc ES update behaves).
  *
  * Scale: one shuffle on the key per upsert batch (full-outer merge);
  * the conflict-retry machinery of the reference dissolves — a batch
  * merge has no concurrent writers. Indices are hash-bucketed via
  * [[BucketedParquet]]: every write mode computes the buckets its
  * batch touches, reads and merges ONLY those, and swaps only those
  * directories; untouched buckets stay byte-identical. A batch of b
  * distinct keys touches about N(1−e^(−b/N)) of the N buckets: every
  * bucket once b ≥ N.
  */
final class DocStore(spark: SparkSession, baseDir: String,
    numBuckets: Int = 16) {

  private def dir(index: String) = s"$baseDir/$index"

  def read(index: String): Option[DataFrame] =
    BucketedParquet.readAll(spark, dir(index))

  /** The stored key values among `candidates`' buckets — the
    * membership probe behind es.exists-style gates. Bucket-pruned:
    * only the buckets the candidate keys hash into are read, never the
    * whole index. */
  def storedKeys(indexName: String, key: String,
      candidates: DataFrame): DataFrame =
    BucketedParquet.storedKeys(dir(indexName), Seq(key), candidates, numBuckets)

  /** K1: overwrite-by-id. */
  def index(indexName: String, key: String, batch: DataFrame): Unit =
    BucketedParquet.merge(dir(indexName), Seq(key), batch, numBuckets) {
      case (None, deduped) => deduped
      case (Some(old), deduped) =>
        old.join(deduped.select(col(key)), Seq(key), "left_anti")
          .unionByName(deduped, allowMissingColumns = true)
    }

  /** The reference's `es.exists` guard as a set operation: index ONLY
    * batch rows whose key is not already stored (parents immutable
    * once indexed — the lobbying ingest pattern). Returns the
    * actually-inserted rows; see [[BucketedParquet.insertNew]]. */
  def insertNew(indexName: String, key: String, batch: DataFrame): DataFrame =
    BucketedParquet.insertNew(dir(indexName), Seq(key), batch, numBuckets)

  /** Delete-by-key — the `es.delete` drain of a deletion queue
    * (`news_articles_ingest_delete_duplicate/main.py:30-37`): remove
    * stored rows whose key appears in `ids`. Only buckets that lose a
    * row are rewritten; see [[BucketedParquet.deleteKeys]]. The ids are
    * materialized first because callers commonly derive them from THIS
    * index's files, which the swap replaces. */
  def delete(indexName: String, key: String, ids: DataFrame): Unit =
    BucketedParquet.deleteKeys(dir(indexName), Seq(key),
      ids.select(col(key)).distinct().localCheckpoint(true), numBuckets)

  /** K2: doc_as_upsert partial merge; see class doc. */
  def upsert(indexName: String, key: String, batch: DataFrame): Unit =
    BucketedParquet.merge(dir(indexName), Seq(key), batch, numBuckets) {
      case (None, deduped) => deduped
      case (Some(old), deduped) =>
        val newCols = deduped.columns.filterNot(_ == key).toSeq
        val oldCols = old.columns.filterNot(_ == key).toSeq
        val oldR = old.select(col(key) +: oldCols.map(c => col(c).as(s"__old_$c")): _*)
        val newR = deduped.select(col(key) +:
          (newCols.map(c => col(c).as(s"__new_$c")) :+ lit(1).as("__present")): _*)
        val joined = newR.join(oldR, Seq(key), "full_outer")
        val allCols = (newCols ++ oldCols.filterNot(newCols.contains)).distinct
        val out = allCols.map { c =>
          val hasNew = newCols.contains(c)
          val hasOld = oldCols.contains(c)
          if (hasNew && hasOld)
            mergeField(joined, c).as(c)
          else if (hasNew) col(s"__new_$c").as(c)
          else col(s"__old_$c").as(c)
        }
        joined.select(col(key) +: out: _*)
    }

  /** Field merge: struct → field-wise coalesce(new, old) one level
    * deep; scalar → new when the batch row carries a non-null value. */
  private def mergeField(joined: DataFrame, c: String): Column = {
    val n = col(s"__new_$c"); val o = col(s"__old_$c")
    joined.schema(s"__new_$c").dataType match {
      case st: StructType =>
        val oldSt = joined.schema(s"__old_$c").dataType.asInstanceOf[StructType]
        val fields = (st.fieldNames ++
          oldSt.fieldNames.filterNot(st.fieldNames.contains)).distinct
        def fieldType(f: String) =
          st.fields.find(_.name == f).map(_.dataType)
            .getOrElse(oldSt(f).dataType)
        // every branch must carry the SAME widened struct type: a
        // partial doc (fewer fields) pads its missing fields with
        // typed nulls (the ES partial update never narrows the doc)
        def widen(src: Column, s: StructType) = struct(fields.map { f =>
          (if (s.fieldNames.contains(f)) src.getField(f)
           else lit(null).cast(fieldType(f))).as(f)
        }: _*)
        val mergedStruct = struct(fields.map { f =>
          val nf = if (st.fieldNames.contains(f)) n.getField(f)
            else lit(null).cast(fieldType(f))
          val of = if (oldSt.fieldNames.contains(f)) o.getField(f)
            else lit(null).cast(fieldType(f))
          coalesce(nf, of).as(f)
        }: _*)
        when(n.isNotNull && o.isNotNull, mergedStruct)
          .when(n.isNotNull, widen(n, st)).otherwise(widen(o, oldSt))
      case _ => when(col("__present").isNotNull, coalesce(n, o)).otherwise(o)
    }
  }
}
