package graft.ops

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Round-11 pins: the byte-budget tar-shard layout (the mm_tar_shards
  * scaladoc's "shard count scales with the data" claim, now made true
  * in code via [[MultimodalOps.byteBudgetLayout]]) — bounded
  * per-shard weight on an adversarially skewed corpus, exact
  * data-scaled shard count, and the byte bound on the real USTAR
  * archives. */
class Round11OpsSpec extends SparkFunSuite {
  import spark.implicits._

  private val Budget = 16384L

  /** Adversarially skewed weights: a sea of tiny assets plus giants
    * near the budget — the shape that makes a fixed shard count
    * unbounded (everything lands in |corpus|/k groups) and that a
    * budget planner must still bound. */
  private lazy val skewed = {
    val tiny = (1L to 3000L).map(i => (i, 10L))
    val giant = (9001L to 9010L).map(i => (i, 12000L))
    (tiny ++ giant).toDF("media_id", "n_bytes")
  }

  test("byteBudgetLayout: no shard's total weight exceeds budget + one " +
    "straddling asset, even on a skewed corpus") {
    val perShard = MultimodalOps.byteBudgetLayout(skewed, Budget)
      .groupBy("shard_id").agg(sum("n_bytes").as("w"),
        max("n_bytes").as("mx"))
      .collect()
    val maxAsset = 12000L
    perShard.foreach { r =>
      assert(r.getAs[Long]("w") <= Budget + maxAsset,
        s"shard ${r.get(0)} holds ${r.getAs[Long]("w")} > budget+max")
    }
  }

  test("byteBudgetLayout: shard count is exactly ceil(total/budget) — " +
    "it scales with the data, not a constant") {
    def shards(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val total = df.agg(sum("n_bytes")).as[Long].head()
      val n = MultimodalOps.byteBudgetLayout(df, Budget)
        .select("shard_id").distinct().count()
      (n, (total - 1) / Budget + 1)
    }
    val (n1, exp1) = shards(skewed)
    assert(n1 == exp1, s"skewed corpus: $n1 shards, expected $exp1")
    // doubling the corpus doubles the plan (the 100 TB posture: shard
    // count is a function of bytes, never a constant)
    val doubled = skewed.union(
      skewed.select((col("media_id") + 100000L).as("media_id"),
        col("n_bytes")))
    val (n2, exp2) = shards(doubled)
    assert(n2 == exp2 && n2 >= 2 * n1 - 1,
      s"doubled corpus: $n2 shards vs $n1 — count did not scale")
  }

  test("byteBudgetLayout: offsets are a perfect prefix (every asset's " +
    "start_off equals the sum of all earlier weights)") {
    val rows = MultimodalOps.byteBudgetLayout(skewed, Budget)
      .orderBy("start_off").select("start_off", "n_bytes")
      .as[(Long, Long)].collect()
    var cum = 0L
    rows.foreach { case (off, w) =>
      assert(off == cum, s"gap/overlap at offset $off (expected $cum)")
      cum += w
    }
  }

  test("text_mojibake: injected encoding anomalies are detected and " +
    "classified (the corpus row's zeros are computed, not pinned)") {
    val docs = Seq(
      ("a", "caf\u00C3\u00A9 latte"),            // e-acute double-decoded
      ("a", "it\u00E2\u20AC\u2122s fine"),        // smart quote double-decoded
      ("a", "bad\uFFFDbyte"),                    // replacement char
      ("b", "x\u0085y"),                         // C1 control (NEL)
      ("b", "a\u0001b\u0002c"),                   // C0 controls
      ("b", "perfectly clean text"),
      ("b", "tabs\tand\nnewlines are fine")
    ).toDF("source", "text")
    val panel = TextOps.mojibakePanel(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = panel("a"); val b = panel("b")
    assert(a.getAs[Long]("n_docs") == 3 && a.getAs[Long]("clean_docs") == 0)
    assert(a.getAs[Long]("n_double_utf8") == 2,
      "both double-UTF8 signatures must fire")
    assert(a.getAs[Long]("n_replacement") == 1)
    assert(b.getAs[Long]("n_c1_controls") == 1)
    assert(b.getAs[Long]("n_controls") == 2, "two C0 controls injected")
    assert(b.getAs[Long]("clean_docs") == 2,
      "TAB/LF must not count as anomalies")
  }

  // ---- intra-DCT conditional-replenishment video ---------------------

  private def dctvFrames(w: Int, h: Int): Seq[Array[Byte]] =
    (0 until 3).map { f =>
      Array.tabulate(w * h) { p =>
        val bx = (p % w) / 8; val by = (p / w) / 8
        if (bx >= f && bx < f + 2 && by == 1) (150 + f * 9).toByte
        else ((bx * 13 + by * 31) % 112).toByte
      }
    }

  test("Dctv: closed-loop round trip is bit-exact for block-flat video") {
    val (w, h) = (64, 32)
    val frames = dctvFrames(w, h)
    val stream = graft.multimodal.Dctv.build(w, h, frames)
    val (pw, ph, dec) = graft.multimodal.Dctv.parse(stream).get
    assert((pw, ph) == (w, h) && dec.length == 3)
    frames.zip(dec).zipWithIndex.foreach { case ((exp, got), f) =>
      assert(java.util.Arrays.equals(exp, got), s"frame $f diverged")
    }
  }

  test("Dctv: a static tail frame costs only its empty bitmap (the " +
    "conditional-replenishment gain), and every P-section beats the " +
    "I-frame") {
    val (w, h) = (48, 32)
    val f0 = dctvFrames(w, h).head
    val static = graft.multimodal.Dctv.build(w, h, Seq(f0, f0, f0))
    val moving = graft.multimodal.Dctv.build(w, h, dctvFrames(w, h))
    def u32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL)) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    val iLen = u32(static, 10)
    val bmLen = ((w / 8) * (h / 8) + 7) / 8
    // static video: exactly 2 P-sections of (bitmap + zero length)
    assert(static.length == 14 + iLen + 2 * (bmLen + 4),
      "static deltas should cost bitmap + empty strip only")
    assert(static.length < moving.length)
    // moving video still decodes to 3 distinct frames
    val dec = graft.multimodal.Dctv.parse(moving).get._3
    assert(dec.length == 3 && !java.util.Arrays.equals(dec(0), dec(1)))
    // every P-frame section smaller than the I-frame (temporal gain)
    var off = 14L + u32(moving, 10)
    (1 to 2).foreach { _ =>
      val sLen = u32(moving, (off + bmLen).toInt)
      assert(bmLen + 4 + sLen < u32(moving, 10), "P-section >= I-frame")
      off += bmLen + 4 + sLen
    }
    assert(off == moving.length)
  }

  test("Dctv: NON-flat (noise) frames survive the closed loop — " +
    "bounded per-pixel error, correct structure, later frames stable") {
    val (w, h) = (48, 32)
    // deterministic noise: every pixel distinct-ish, nothing flat —
    // the content class where a strip scattered to the wrong block
    // could NOT hide behind block-periodic values
    def mix(i: Long): Int = {
      var x = i * 0x9e3779b97f4a7c15L
      x ^= x >>> 32; x *= 0xbf58476d1ce4e5b9L; x ^= x >>> 29
      (x & 0xff).toInt
    }
    val frames = (0 until 3).map { f =>
      Array.tabulate(w * h)(p => mix(f.toLong * 100000 + p).toByte)
    }
    val stream = graft.multimodal.Dctv.build(w, h, frames)
    val (pw, ph, dec) = graft.multimodal.Dctv.parse(stream).get
    assert((pw, ph) == (w, h) && dec.length == 3)
    // all-ones quantization means the only loss is DCT rounding: the
    // per-pixel error of each decoded frame vs its ORIGINAL must stay
    // tiny (a mis-scattered block would show up as ~uniform-random
    // ~85-level mean error instead)
    frames.zip(dec).zipWithIndex.foreach { case ((exp, got), f) =>
      var maxErr = 0
      var p = 0
      while (p < exp.length) {
        val e = math.abs((exp(p) & 0xff) - (got(p) & 0xff))
        if (e > maxErr) maxErr = e
        p += 1
      }
      assert(maxErr <= 8, s"frame $f: max pixel error $maxErr")
    }
    // generational drift stays bounded too: re-encoding the DECODED
    // frames is NOT bit-idempotent (integer-rounded IDCT output
    // re-transforms to ±1-different coefficients — real JPEG
    // generational loss, present even with all-ones quantization),
    // but the second generation must stay within the same tiny band
    val second = graft.multimodal.Dctv.build(w, h, dec)
    val dec2 = graft.multimodal.Dctv.parse(second).get._3
    dec.zip(dec2).zipWithIndex.foreach { case ((a, b), f) =>
      var maxErr = 0
      var p = 0
      while (p < a.length) {
        val e = math.abs((a(p) & 0xff) - (b(p) & 0xff))
        if (e > maxErr) maxErr = e
        p += 1
      }
      assert(maxErr <= 8, s"generation-2 frame $f: max error $maxErr")
    }
  }

  test("Dctv: hostile headers quarantine (dimension caps, frame-count " +
    "cap, truncation, trailing garbage)") {
    val good = graft.multimodal.Dctv.build(48, 32, dctvFrames(48, 32))
    def withU16(o: Int, v: Int): Array[Byte] = {
      val b = good.clone()
      b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
      b
    }
    assert(graft.multimodal.Dctv.parse(withU16(4, 65535)).isEmpty,
      "oversized width accepted")
    assert(graft.multimodal.Dctv.parse(withU16(6, 4112)).isEmpty,
      "oversized height accepted") // > MaxDim even though % 16 == 0
    assert(graft.multimodal.Dctv.parse(withU16(8, 9999)).isEmpty,
      "frame-count cap missing")
    assert(graft.multimodal.Dctv
      .parse(good.take(good.length / 2)).isEmpty, "truncation accepted")
    assert(graft.multimodal.Dctv
      .parse(good ++ Array[Byte](0)).isEmpty, "trailing garbage accepted")
    assert(graft.multimodal.Dctv.parse(null).isEmpty)
  }

  test("plan census: a deliberate config change yields the diagnosable " +
    "CONFIG MISMATCH signal, not a silent literal-oracle hash fail") {
    // an ISOLATED session: suites share one SparkSession and run
    // concurrently, so mutating the shared conf would race other
    // suites' census calls (it did — three Round8DegenerateSpec
    // failures in the full run)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val e = intercept[IllegalStateException] {
      PlanCensus.planShuffles(s2, sfDir).collect()
    }
    assert(e.getMessage.contains("CONFIG MISMATCH"))
    assert(e.getMessage.contains("autoBroadcastJoinThreshold"),
      "the mismatch message must name the drifted key")
    // the untouched shared session computes the row normally
    assert(PlanCensus.planShuffles(spark, sfDir).collect().length == 5)
    // equivalent RENDERINGS of the same byte value are NOT a
    // mismatch: a save-and-restore elsewhere re-sets Spark's own
    // "10485760b" rendering explicitly (the BucketedJoinSpec race
    // that failed the first full-suite run of this gate)
    val s3 = spark.newSession()
    s3.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    assert(PlanCensus.planShuffles(s3, sfDir).collect().length == 5)
    val s4 = spark.newSession()
    s4.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    assert(PlanCensus.planShuffles(s4, sfDir).collect().length == 5)
  }

  test("mm_binary_intake: spark.graft.mm.assetDir routes the fixture " +
    "write through the Hadoop FileSystem API to the configured root") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_shared_assets").toString
    // an isolated session: the asset-dir memo is (session, dataset)-
    // keyed and the conf read happens inside it, so this test must
    // not depend on whether another suite already ran the intake on
    // the shared session (and must not leak its conf to them)
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.mm.assetDir", "file:" + root)
    val ledger = MultimodalOps.mmBinaryIntake(s2, sfDir).collect()
    assert(ledger.nonEmpty, "intake ledger empty")
    val written = new java.io.File(root).listFiles()
    assert(written != null && written.exists(_.getName.startsWith(
      "graft_mmassets_")), "assets not written under the configured root")
  }

  test("mm_tar_shards: real archive bytes per shard stay bounded by " +
    "the unit budget (units proxy bytes within the per-codec constant)") {
    val weighted = graft.Tables
      .spread(graft.Tables.documents(spark, sfDir))
      .select(col("doc_id").as("media_id"))
      .withColumn("n_bytes", MultimodalOps.tarUnitWeight)
    val maxUnits = weighted.agg(max("n_bytes")).as[Long].head()
    val shards = MultimodalOps
      .byteBudgetLayout(weighted, MultimodalOps.TarShardUnitBudget)
      .select(col("shard_id"), col("media_id")).as[(Long, Long)]
      .collect().groupBy(_._1)
    assert(shards.size > 1, "test corpus should span several shards")
    shards.foreach { case (shard, members) =>
      val entries = members.map { case (_, id) =>
        (s"asset_$id.bin", MultimodalOps.buildAsset(id, (id % 7).toInt))
      }.sortBy(_._1)
      val tar = graft.multimodal.Tar.build(entries.toSeq)
      // bytes/unit <= 2 for every dispatched codec (PCM is the worst);
      // per entry: container headers (<200 B) + tar header + padding
      // (<1024 B); plus the end-of-archive marker
      val bound = 2L * (MultimodalOps.TarShardUnitBudget + maxUnits) +
        entries.length.toLong * 1224L + 1024L
      assert(tar.length <= bound,
        s"shard $shard: ${tar.length} B > bound $bound " +
          s"(${entries.length} entries)")
    }
  }
}
