package graft.ops

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Round-10 pins: the hub-degree cap in front of graphComponents'
  * edges² (the one scale guard round 9 acknowledged but deferred),
  * the two new plan-census rows, the layoutBucketing write memo, the
  * shared tokenized-corpus artifact, and malformed-container
  * rejection. */
class Round10OpsSpec extends SparkFunSuite {
  import spark.implicits._

  // ---- hub-degree cap (twoHopCapped) --------------------------------

  /** Symmetric star: hub h ↔ leaves l1..l40 (hub degree 40, leaf
    * degree 1). Every 2-hop path runs THROUGH the hub, so a cap below
    * 40 must produce zero 2-hop edges while a cap above it produces
    * the full leaf×leaf expansion — and the capped set must respect
    * the O(cap·|E|) bound that makes the squaring safe on power-law
    * graphs. */
  private lazy val star = {
    val pairs = (1 to 40).map(i => ("h", s"l$i"))
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
  }

  test("twoHopCapped: a hub above the cap is excluded from squaring") {
    assert(GraphOps.twoHopCapped(star, 32).count() == 0L)
  }

  test("twoHopCapped: below-cap pivots expand fully (leaf x leaf)") {
    // pivot h (deg 40 <= 64): l_i -> h -> l_j for i != j = 40*39
    assert(GraphOps.twoHopCapped(star, 64).count() == 40L * 39L)
  }

  test("twoHopCapped: expansion is bounded by cap * |E| on a hub graph") {
    val e = star.count()
    for (cap <- Seq(1, 32, 64))
      assert(GraphOps.twoHopCapped(star, cap).count() <= cap * e,
        s"cap=$cap broke the O(cap*|E|) bound")
  }

  test("twoHopCapped: path graph keeps genuine 2-hop pairs under the cap") {
    // a-b-c-d chain (all degrees <= 2): 2-hop pairs are (a,c),(b,d)
    // and their reverses
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"))
    val edges = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    val got = GraphOps.twoHopCapped(edges, 32)
      .distinct().as[(String, String)].collect().toSet
    assert(got == Set(("a", "c"), ("c", "a"), ("b", "d"), ("d", "b")))
  }

  test("graph_cc: fixpoint labels unchanged by the cap (fixture)") {
    // the cap only drops ACCELERATOR edges, never reachability: the
    // fixture components must still match the catalog shape (the
    // oracle pins exact labels; here we pin the invariant cheaply)
    val rows = GraphOps.graphComponents(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nodes = rows.map(r => r.getLong(1)).sum
    val (nc, ns) = (rows.map(_.getLong(2)).sum, rows.map(_.getLong(3)).sum)
    assert(nc + ns == nodes, "customer+supplier counts must tile nodes")
    // every component label is one of its own member prefixes
    assert(rows.forall(r => r.getString(0).startsWith("c") ||
      r.getString(0).startsWith("s")))
  }

  // ---- plan census rows ---------------------------------------------

  test("plan_asof: the native exec node runs, no fallback join") {
    val r = PlanCensus.planAsof(spark, sfDir).collect()
    assert(r.length == 1)
    assert(r(0).getString(0) == "ev_asof_native")
    assert(r(0).getLong(1) == 1, "AsofJoinExec missing from the plan")
    assert(r(0).getLong(2) == 0, "a fallback join replaced the native op")
    assert(r(0).getLong(5) == 2, "as-of should scan events exactly twice")
  }

  test("plan_salted: (key, salt) join + one explode replication") {
    val r = PlanCensus.planSalted(spark, sfDir).collect()
    assert(r.length == 1)
    assert(r(0).getLong(1) == 1, "the running join lost its salt key")
    assert(r(0).getLong(2) == 1, "dim replication explode missing")
    // the salt must not cost the fact a shuffle: the salted dim
    // broadcasts (>=1 broadcast exchange)
    assert(r(0).getLong(4) >= 1, "salted dim no longer broadcasts")
  }

  // ---- layoutBucketing memo -----------------------------------------

  test("layout_bucketing: re-entry does zero filesystem writes") {
    val first = LayoutOlap.layoutBucketing(spark, sfDir).collect()
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_))
      .mkString.take(12)
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_bucketed_${h}_${ProcessHandle.current().pid()}")
    assert(dir.isDirectory, "stable bucketed dir missing")
    def snapshot(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(dir).map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val before = snapshot()
    val second = LayoutOlap.layoutBucketing(spark, sfDir).collect()
    assert(snapshot() == before, "re-entry rewrote the bucketed tables")
    assert(first.toSeq == second.toSeq)
  }

  // ---- shared tokenized corpus --------------------------------------

  test("tokCorpus: one artifact, consumers agree with a fresh tokenize") {
    val memo = TextOps.tokCorpus(spark, sfDir)
    assert(memo.columns.toSeq == Seq("source", "doc_id", "ts"))
    // the memoized arrays must equal a from-scratch tokenize row-for-row
    val fresh = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr(
        "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')")
        .as("ts"))
    val joined = memo.select(col("doc_id"), col("ts").as("a"))
      .join(fresh.select(col("doc_id"), col("ts").as("b")), "doc_id")
    assert(joined.filter(not(col("a") <=> col("b"))).count() == 0)
    // and the memo IS shared: same instance on re-request
    assert(TextOps.tokCorpus(spark, sfDir) eq memo)
  }

  // ---- malformed-container rejection (ADVICE fixes) ------------------

  test("Wav.parse: hostile chunk sizes reject instead of looping") {
    import graft.multimodal.Multimodal.Wav
    val good = Wav.build(8000, Array[Short](1, 2, 3, 4))
    assert(Wav.parse(good).isDefined)
    // negative declared chunk size (0xFFFFFFF8) at the first chunk:
    // un-rejected this walks off BACKWARD and loops forever
    val neg = good.clone()
    neg(16) = 0xf8.toByte; neg(17) = 0xff.toByte
    neg(18) = 0xff.toByte; neg(19) = 0xff.toByte
    assert(Wav.parse(neg).isEmpty)
    // POSITIVE near-2^31 chunk size: passes a len<0 check but wraps
    // an Int cursor negative — the Long cursor must just run off the
    // end and reject (the round-10 review catch)
    val big = good.clone()
    big(16) = 0xf4.toByte; big(17) = 0xff.toByte
    big(18) = 0xff.toByte; big(19) = 0x7f.toByte
    assert(Wav.parse(big).isEmpty)
    // truncated fmt chunk: declared 16 bytes, payload ends early
    val trunc = good.take(20)
    assert(Wav.parse(trunc).isEmpty)
  }

  // ---- baseline JPEG codec -------------------------------------------

  private def mosaic(w: Int, h: Int)
      : (Array[Byte], Array[Byte], Array[Byte]) = {
    val y = Array.tabulate(w * h) { p =>
      val bx = (p % w) / 8; val by = (p / w) / 8
      ((7 + bx * 13 + by * 31) % 256).toByte
    }
    val cw = w / 2; val ch = h / 2
    val cb = Array.tabulate(cw * ch) { p =>
      ((11 + ((p % cw) / 8) * 5 + ((p / cw) / 8) * 3) % 256).toByte
    }
    val cr = Array.tabulate(cw * ch) { p =>
      ((3 + ((p % cw) / 8) * 17 + ((p / cw) / 8) * 29) % 256).toByte
    }
    (y, cb, cr)
  }

  test("Jpeg: flat 8x8 tiles round-trip bit-exactly through the " +
      "entropy-coded pipeline") {
    import graft.multimodal.Jpeg
    val (w, h) = (48, 32)
    val (y, cb, cr) = mosaic(w, h)
    val jpg = Jpeg.build(w, h, y, cb, cr)
    // the stream really is entropy-coded: smaller than one raw plane
    assert(jpg.length < w * h, s"no compression: ${jpg.length}")
    // restart markers present (DRI honored by the writer)
    assert(jpg.sliding(2).exists(a => (a(0) & 0xff) == 0xff &&
      (a(1) & 0xff) >= 0xd0 && (a(1) & 0xff) <= 0xd7))
    val (pw, ph, planes) = Jpeg.parse(jpg).get
    assert(pw == w && ph == h)
    assert(planes(0).sameElements(y), "luma plane diverged")
    assert(planes(1).sameElements(cb), "Cb plane diverged")
    assert(planes(2).sameElements(cr), "Cr plane diverged")
  }

  test("Jpeg: arbitrary content survives within rounding (full " +
      "Huffman/AC/IDCT machinery)") {
    import graft.multimodal.Jpeg
    val (w, h) = (48, 32)
    val y = Array.tabulate(w * h)(p => ((p * 2654435761L >> 7) % 256).toByte)
    val cb = Array.tabulate(w * h / 4)(p => ((p * 40503L >> 3) % 256).toByte)
    val cr = Array.tabulate(w * h / 4)(p => ((p * 9176L >> 2) % 256).toByte)
    val jpg = Jpeg.build(w, h, y, cb, cr, restartInterval = 3)
    // genuinely non-trivial entropy data must byte-stuff somewhere
    assert(jpg.sliding(2).exists(a =>
      (a(0) & 0xff) == 0xff && (a(1) & 0xff) == 0x00),
      "no 0xFF00 stuffing in the entropy stream")
    val (_, _, planes) = Jpeg.parse(jpg).get
    def maxErr(a: Array[Byte], b: Array[Byte]): Int =
      a.zip(b).map { case (x, z) => math.abs((x & 0xff) - (z & 0xff)) }.max
    // all-ones quant tables: the only loss is double rounding
    assert(maxErr(planes(0), y) <= 2 && maxErr(planes(1), cb) <= 2 &&
      maxErr(planes(2), cr) <= 2)
  }

  test("Jpeg.parse: malformed streams reject, never crash or mis-decode") {
    import graft.multimodal.Jpeg
    val (w, h) = (32, 32)
    val (y, cb, cr) = mosaic(w, h)
    val jpg = Jpeg.build(w, h, y, cb, cr)
    assert(Jpeg.parse(jpg.take(jpg.length / 2)).isEmpty, "truncated")
    assert(Jpeg.parse(Array.fill[Byte](64)(0x41)).isEmpty, "garbage")
    assert(Jpeg.parse(Array[Byte]()).isEmpty, "empty")
    def flipMarker(from: Int, to: Int): Option[_] = {
      val c = jpg.clone()
      val i = c.sliding(2).indexWhere(a =>
        (a(0) & 0xff) == 0xff && (a(1) & 0xff) == from)
      assert(i >= 0, f"marker $from%02x not found")
      c(i + 1) = to.toByte
      Jpeg.parse(c)
    }
    // progressive SOF2 is not baseline
    assert(flipMarker(0xc0, 0xc2).isEmpty, "progressive accepted")
    // a desynchronized restart marker (wrong index) must reject, not
    // silently mis-predict every later DC
    assert(flipMarker(0xd0, 0xd5).isEmpty, "RST desync accepted")
    // hostile DHT: duplicate a symbol value inside the table — the
    // structural require must surface as None, never as an exception
    // escaping parse (round-10 review catch)
    val dht = jpg.clone()
    val dhtAt = dht.sliding(2).indexWhere(a =>
      (a(0) & 0xff) == 0xff && (a(1) & 0xff) == 0xc4)
    dht(dhtAt + 4 + 17) = dht(dhtAt + 4 + 18) // vals[0] := vals[1]
    assert(Jpeg.parse(dht).isEmpty, "hostile DHT accepted or crashed")
    // hostile SOF dims: a ~1 KB stream declaring 16368x16368 must
    // reject at the plausibility gate BEFORE allocating ~270 MB planes
    val huge = jpg.clone()
    val sofAt = huge.sliding(2).indexWhere(a =>
      (a(0) & 0xff) == 0xff && (a(1) & 0xff) == 0xc0)
    huge(sofAt + 5) = 0x3f.toByte; huge(sofAt + 6) = 0xf0.toByte // h
    huge(sofAt + 7) = 0x3f.toByte; huge(sofAt + 8) = 0xf0.toByte // w
    assert(Jpeg.parse(huge).isEmpty, "implausible dims accepted")
  }

  test("Jpeg: property sweep — every MCU-aligned dimension and content " +
      "mix round-trips") {
    import graft.multimodal.Jpeg
    for (seed <- 1L to 6L) {
      val w = 16 * (1 + (seed % 4)).toInt
      val h = 16 * (1 + ((seed * 7) % 3)).toInt
      val rnd = new scala.util.Random(seed)
      val y = Array.fill(w * h)(rnd.nextInt(256).toByte)
      val cb = Array.fill(w * h / 4)(rnd.nextInt(256).toByte)
      val cr = Array.fill(w * h / 4)(rnd.nextInt(256).toByte)
      val ri = 1 + (seed % 5).toInt
      val jpg = Jpeg.build(w, h, y, cb, cr, restartInterval = ri)
      val parsed = Jpeg.parse(jpg)
      assert(parsed.isDefined, s"seed=$seed ${w}x$h ri=$ri failed to parse")
      val (pw, ph, planes) = parsed.get
      assert(pw == w && ph == h)
      def maxErr(a: Array[Byte], b: Array[Byte]): Int =
        a.zip(b).map { case (x, z) => math.abs((x & 0xff) - (z & 0xff)) }.max
      assert(maxErr(planes(0), y) <= 2, s"seed=$seed luma error")
      assert(maxErr(planes(1), cb) <= 2 && maxErr(planes(2), cr) <= 2,
        s"seed=$seed chroma error")
    }
  }

  test("JpegCodec: the real codec rides the batched MediaCodec path") {
    import graft.multimodal.{Jpeg, Multimodal}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (w, h) = (32, 32)
    val (y, cb, cr) = mosaic(w, h)
    val jpg = Jpeg.build(w, h, y, cb, cr)
    val mediaSchema = Multimodal.mediaSchema
    val rows = Seq(
      Row(1L, jpg, Row("image", "jpeg", w, h, 0L, "mem://1")),
      Row(2L, Array.fill[Byte](64)(0x41), // not a JPEG: quarantined
        Row("image", "jpeg", 0, 0, 0L, "mem://2")))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), mediaSchema)
    val out = Multimodal
      .extractFeatures(media, new Multimodal.JpegCodec)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.getSeq[Float](2)))).toMap
    assert(out(1L)._1 && !out(2L)._1, "ok flags wrong")
    assert(out(2L)._2.isEmpty, "quarantined payload grew features")
    val f = out(1L)._2.get
    assert(f.length == 32)
    // histogram masses = decoded plane sizes (luma w*h, chroma w*h/4)
    assert(f.take(16).sum == w * h.toFloat)
    assert(f.slice(16, 24).sum == w * h / 4f)
    assert(f.drop(24).sum == w * h / 4f)
    // and the luma histogram is the DECODED pixel histogram
    val expected = new Array[Float](16)
    y.foreach(b => expected((b & 0xff) / 16) += 1f)
    assert(f.take(16).sameElements(expected), "luma histogram diverged")
  }

  test("Bmp.parse: overflow-sized headers reject instead of crashing") {
    import graft.multimodal.Multimodal.Bmp
    val good = Bmp.build(3, 2, Array(1, 2, 3, 4, 5, 6))
    assert(Bmp.parse(good).isDefined)
    def patch32(b: Array[Byte], off: Int, v: Int): Array[Byte] = {
      val c = b.clone()
      c(off) = (v & 0xff).toByte; c(off + 1) = ((v >> 8) & 0xff).toByte
      c(off + 2) = ((v >> 16) & 0xff).toByte
      c(off + 3) = ((v >> 24) & 0xff).toByte
      c
    }
    // w*h chosen so stride*h overflows Int and sneaks past an
    // Int-arithmetic bound check
    assert(Bmp.parse(patch32(patch32(good, 18, 0x10000), 22, 0x10000)).isEmpty)
    // negative data offset from a top-bit u32
    assert(Bmp.parse(patch32(good, 10, 0x80000036)).isEmpty)
    // data offset below the header
    assert(Bmp.parse(patch32(good, 10, 10)).isEmpty)
  }
}
