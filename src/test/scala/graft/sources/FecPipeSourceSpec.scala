package graft.sources

import java.nio.file.Files

import graft.SparkFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The `fecpipe` stream source: registry schema dispatch, checkpointed
  * file replay, and the malformed-line contract of its two modes. */
class FecPipeSourceSpec extends SparkFunSuite {

  // three cn22-shaped candidates; BBB has an empty election year
  private lazy val dir: String = {
    val d = Files.createTempDirectory("fecpipe")
    Files.writeString(d.resolve("cn_a.txt"),
      "C001|ALPHA, A|DEM|2022|CA|H|12|I|C|PCC1|1 MAIN||LA|CA|90001\n" +
        "C002|BRAVO, B|REP||TX|S|00|C|C|PCC2|2 OAK||AUS|TX|73301\n")
    Files.writeString(d.resolve("cn_b.txt"),
      "C003|CHARLIE, C|DEM|2024|NY|P|00|O|N|PCC3|3 ELM||NYC|NY|10001\n")
    d.toString
  }

  // one fixture indiv22 line: 21 fields, sub_id last
  private val indivLine =
    "C001|N|Q1|P|IMG1|15|IND|BROWN, ALICE|SF|CA|941101234|ACME|ENGINEER|" +
      "01152022|500.0||T1|101||_|9001"

  private def landed(lines: String*): String = {
    val d = Files.createTempDirectory("fecpipe_landed")
    Files.writeString(d.resolve("f001.txt"), lines.mkString("", "\n", "\n"))
    d.toString
  }

  /** Every row one AvailableNow drain of `path` emits, projected on
    * `cols` (all columns when empty). */
  private def drain(path: String, table: String, mode: Option[String] = None,
      cols: Seq[String] = Nil): Seq[Row] = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val reader = spark.readStream.format("fecpipe").option("table", table)
    val df = mode.fold(reader)(reader.option("mode", _)).load(path)
    val q = (if (cols.isEmpty) df else df.select(cols.map(col): _*))
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("fecpipe_ckpt").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val got = b.collect()
        rows.synchronized { rows ++= got; () }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    rows.synchronized(rows.toSeq)
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil
    else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("schema dispatch + empty-field nulls on the stream") {
    val schema = spark.readStream.format("fecpipe").option("table", "cn22")
      .load(dir).schema
    assert(schema.fieldNames.take(3).toSeq ==
      Seq("cand_id", "cand_name", "cand_pty_affiliation"))
    val rows = drain(dir, "cn22").sortBy(_.getString(0))
    assert(rows.map(_.getString(0)) == Seq("C001", "C002", "C003"))
    // empty pipe field -> NULL, typed column -> long
    assert(rows(1).isNullAt(3) && rows(0).getLong(3) == 2022L)
  }

  test("micro-batch streaming: file-offset checkpoint replays only new files") {
    val sd = Files.createTempDirectory("fecstream")
    val ckpt = Files.createTempDirectory("fecckpt").toString
    Files.writeString(sd.resolve("f001.txt"),
      "C001|ALPHA, A|DEM|2022|CA|H|12|I|C|P|1 A||LA|CA|90001\n")
    Files.writeString(sd.resolve("f002.txt"),
      "C002|BRAVO, B|REP|2022|TX|S|00|C|C|P|2 B||AU|TX|73301\n" +
        "C003|CHARLIE, C|DEM|2024|NY|P|00|O|N|P|3 C||NY|NY|10001\n")
    val out = Files.createTempDirectory("fecout").toString
    def runBatch(): Unit = {
      val q = spark.readStream.format("fecpipe").option("table", "cn22")
        .load(sd.toString)
        .select("cand_id", "cand_pty_affiliation")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    runBatch()
    assert(spark.read.parquet(out).collect().map(_.getString(0)).sorted
      .toSeq == Seq("C001", "C002", "C003"))
    // a third file lands; the checkpoint skips the consumed files — the
    // restarted stream appends ONLY the new file
    Files.writeString(sd.resolve("f003.txt"),
      "C004|DELTA, D|REP|2024|FL|H|09|I|C|P|4 D||MI|FL|33101\n")
    runBatch()
    assert(spark.read.parquet(out).collect().map(_.getString(0)).sorted
      .toSeq == Seq("C001", "C002", "C003", "C004"))
  }

  test("unknown table and unknown mode rejection") {
    intercept[IllegalArgumentException] {
      spark.readStream.format("fecpipe").option("table", "nope").load(dir)
    }
    // Spark's CSV reader would silently read an unknown mode as PERMISSIVE
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("fecpipe").option("table", "cn22")
        .option("mode", "drop").load(dir)
    }
    assert(e.getMessage.contains("fail|permissive"))
  }

  test("invalid UTF-8 replaces, trailing-empty fields still count") {
    val d = Files.createTempDirectory("fecpipe_hostile")
    Files.writeString(d.resolve("cn_clean.txt"),
      "C001|ALPHA, A|DEM|2022|CA|H|12|I|C|PCC1|1 MAIN||LA|CA|90001\n" +
        // trailing empty zip: still EXACTLY 15 fields, NOT malformed
        "C004|TRAIL, T|DEM|2022|WA|H|01|I|C|PCC4|4 FIR||SEA|WA|\n")
    // invalid UTF-8 byte (0xFF) inside a 15-field line
    val pre = "C005|BAD".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val post = "NAME|DEM|2022|OR|H|02|I|C|PCC5|5 ASH||PDX|OR|97201\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Files.write(d.resolve("cn_utf8.txt"), pre ++ Array(0xFF.toByte) ++ post)
    // the default mode fails on a wrong width, so every line read here
    // has exactly the schema's field count
    val rows = drain(d.toString, "cn22")
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("C001", "C004", "C005"))
    // the 0xFF byte decoded to U+FFFD instead of killing the task
    assert(rows("C005").getString(1) == "BAD�NAME")
    // trailing-empty zip row kept, zip NULL
    assert(rows("C004").isNullAt(14))
  }

  test("permissive: two stray trailing fields load like the clean line") {
    val clean = drain(landed(indivLine), "indiv22", Some("permissive"))
    val dirty = drain(landed(indivLine + "|XTRA|XTRA"), "indiv22",
      Some("permissive"))
    assert(clean.size == 1 && clean.head.getLong(20) == 9001L)
    assert(dirty == clean)
  }

  test("permissive: a short line is null-padded") {
    val rows = drain(landed("C001|N|Q1|P|IMG1"), "indiv22", Some("permissive"))
    assert(rows.size == 1)
    assert(rows.head.toSeq.take(5) == Seq("C001", "N", "Q1", "P", "IMG1"))
    assert((5 until 21).forall(rows.head.isNullAt))
  }

  test("default mode fails on a wrong-width line, even under a projection") {
    // sanity: the clean line passes the default mode under the projection
    assert(drain(landed(indivLine), "indiv22", cols = Seq("cmte_id")) ==
      Seq(Row("C001")))
    for (bad <- Seq(indivLine + "|XTRA|XTRA", "C001|N|Q1|P|IMG1")) {
      // the projection leaves out the last column, so a parser that only
      // splits the projected fields would not see the wrong width
      val e = intercept[Exception] {
        drain(landed(indivLine, bad), "indiv22", cols = Seq("cmte_id"))
      }
      assert(messages(e).exists(_.toLowerCase.contains("malformed")),
        messages(e).mkString(" / "))
    }
  }
}
