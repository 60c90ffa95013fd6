package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.fec._
import graft.graph.GraphStore
import graft.io.DocStore

/** In-process load generator for the three benchmark workloads.
  *
  * One closed-loop client: exactly one operation is in flight at a time.
  * Inputs are generated beforehand by `run.py` from the seed; this
  * program only reads those files and calls the engine's public
  * functions. It reports on stdout, one record per line, prefixed `@@`:
  *
  *   @@ setup <part> <seconds>
  *   @@ ready                      set-up done, the measured window opens
  *   @@ op <kind> <name> <seconds> <traced 0|1>
  *   @@ layer <metric> <value>     per-layer totals (traced runs only)
  *   @@ rss_mb <value>
  *
  * Everything needed to check results (summaries, read-backs, query
  * results) is written under the work directory and checked by run.py,
  * outside every timed window.
  *
  * Arguments: workload, work dir, number of timed operations (batches,
  * passes or loads), trace flag (0/1), local[N] width.
  */
object Harness {

  def out(s: String): Unit = { println(s"@@ $s"); Console.flush() }
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val Array(workload, work, timedOps, trace, cpus) = args
    Trace.enabled = trace == "1"
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Counters.install(spark)
    out(f"setup session ${secs(t0)}%.6f")
    val n = timedOps.toInt
    try workload match {
      case "fec_bulk" => Bulk.run(spark, work, n)
      case "fec_amend" => Amend.run(spark, work, n)
      case "catalog_mix" => Mix.run(spark, work, n)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      Trace.write(Paths.get(work, "spans.tsv"))
      out(f"rss_mb ${Rss.peakMb()}%.3f")
      spark.stop()
    }
  }
}

/** Spans kept in memory around each layer call and written out at the
  * end. One operation is in flight at a time, so a single stack gives
  * each span its parent; the stream thread that runs `foreachBatch`
  * nests under the caller's open span while the caller waits. */
object Trace {
  final case class Span(trace: Long, id: Long, parent: Long, name: String,
      start: Long, end: Long)

  @volatile var enabled = false
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Long]
  private var nextId = 0L
  private var traceId = 0L

  /** Open a new trace (one per timed operation). */
  def newTrace(): Unit = synchronized { traceId += 1 }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        nextId += 1
        val p = stack.headOption.getOrElse(0L)
        stack = nextId :: stack
        (nextId, p)
      }
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        synchronized {
          stack = stack.tail
          spans += Span(traceId, id, parent, name, start, end)
        }
      }
    }

  def write(p: Path): Unit = synchronized {
    if (spans.nonEmpty)
      Files.write(p, spans.map(s =>
        s"${s.trace}\t${s.id}\t${s.parent}\t${s.name}\t${s.start}\t${s.end}")
        .asJava)
  }
}

/** Engine counters from Spark's own listener bus. */
object Counters {
  val jobs, tasks, shuffleBytes, cpuNs, spillBytes, gcMs = new AtomicLong()
  private var sc: org.apache.spark.SparkContext = _

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          cpuNs.addAndGet(m.executorCpuTime)
          spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          gcMs.addAndGet(m.jvmGCTime)
        }
      }
    })
  }

  /** Current totals after every queued listener event is delivered. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.GraftBenchBus.drain(sc)
    Map("spark.jobs" -> jobs.get.toDouble, "spark.tasks" -> tasks.get.toDouble,
      "spark.shuffle_bytes" -> shuffleBytes.get.toDouble,
      "spark.task_cpu_s" -> cpuNs.get / 1e9,
      "spark.spill_bytes" -> spillBytes.get.toDouble,
      "spark.gc_s" -> gcMs.get / 1e3)
  }
}

/** Per-layer totals of a traced run, summed over its traced operations. */
object Layers {
  private val totals = scala.collection.mutable.LinkedHashMap[String, Double]()
  def add(k: String, v: Double): Unit = synchronized {
    totals(k) = totals.getOrElse(k, 0.0) + v
  }
  def addAll(m: Map[String, Double]): Unit = m.foreach { case (k, v) => add(k, v) }
  def emit(): Unit = totals.foreach { case (k, v) => Harness.out(s"layer $k $v") }

  /** Spark counters spent inside `body`, added to the totals. */
  def counted[T](body: => T): T = {
    if (!Trace.enabled) return body
    val a = overhead(Counters.snapshot())
    val r = body
    val b = overhead(Counters.snapshot())
    addAll(b.map { case (k, v) => k -> (v - a(k)) })
    r
  }

  /** Time spent measuring rather than working: the tracing overhead. */
  def overhead[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add("trace.overhead_s", Harness.secs(t0))
  }
}

/** Store-directory accounting: which bucket directories a write
  * rewrote, how many files and bytes it left behind. */
object StoreDelta {
  type Snap = Map[String, (Long, Long)] // path -> (size, mtime)

  def snap(root: String): Snap = {
    val r = Paths.get(root)
    if (!Files.exists(r)) return Map.empty
    val s = Files.walk(r)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap finally s.close()
  }

  private val bucketDir = """(.*)/__bucket=(\d+)/[^/]+""".r

  /** (bytes written, files written, buckets rewritten, buckets in the
    * tables written). Data files only: Spark's `.crc` and `_SUCCESS`
    * markers are not store content. */
  def diff(before: Snap, after: Snap): (Long, Long, Long, Long) = {
    def data(p: String) = !p.endsWith(".crc") && !p.contains("_SUCCESS")
    val written = after.filter { case (p, v) => data(p) && !before.get(p).contains(v) }
    val bytes = written.values.map(_._1).sum
    def buckets(s: Snap) =
      s.keys.collect { case bucketDir(table, b) => (table, b.toInt) }.toSet
    def filesOf(s: Snap, tb: (String, Int)) =
      s.keys.filter(_.startsWith(s"${tb._1}/__bucket=${tb._2}/")).toSet
    val tablesWritten = written.keys.collect { case bucketDir(t, _) => t }.toSet
    val all = buckets(after).filter(tb => tablesWritten(tb._1))
    val touched = all.count(tb => filesOf(before, tb) != filesOf(after, tb))
    (bytes, written.size.toLong, touched.toLong, all.size.toLong)
  }

  /** Run `body`, charging the store delta under `root` to `prefix`. */
  def measured[T](root: String, prefix: String)(body: => T): T = {
    if (!Trace.enabled) return body
    val a = Layers.overhead(snap(root))
    val r = body
    val (bytes, files, touched, total) = Layers.overhead(diff(a, snap(root)))
    Layers.add(s"$prefix.bytes_written", bytes.toDouble)
    Layers.add(s"$prefix.files_written", files.toDouble)
    Layers.add(s"$prefix.buckets_touched", touched.toDouble)
    Layers.add(s"$prefix.buckets_total", total.toDouble)
    r
  }
}

object Rss {
  def peakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

object Io {
  def write(p: String, lines: Iterable[String]): Unit =
    Files.write(Paths.get(p), lines.asJava)
  def deleteTree(p: String): Unit = graft.io.BucketedParquet.deleteTree(Paths.get(p))
  val runTs = lit("2022-11-09 00:00:00").cast("timestamp")
}

/** fec_bulk: the nightly refresh, raw bulk files to a complete doc and
  * graph store in an empty directory. */
object Bulk {
  import Harness.{out, secs}

  def run(spark: SparkSession, work: String, timedOps: Int): Unit = {
    val bulkDir = s"$work/bulk"
    val warm = Files.readString(Paths.get(s"$work/warmups")).trim.toInt
    var i = 0
    def once(timed: Boolean): Unit = {
      val store = s"$work/store$i"
      Trace.newTrace()
      val traced = Trace.enabled && timed
      val t0 = System.nanoTime()
      val s = if (traced)
          Trace.span("op.bulk_load")(Layers.counted(tracedRun(spark, bulkDir, store)))
        else FecPipeline.run(spark, bulkDir, store, Io.runTs)
      val dt = secs(t0)
      if (timed) out(f"op bulk run$i $dt%.6f ${if (traced) 1 else 0}")
      else out(f"setup warmup$i $dt%.6f")
      val lines = Seq(s"masterContributions\t${s.masterContributions}",
        s"masterExpenditures\t${s.masterExpenditures}",
        s"elasticRows\t${s.elasticRows}") ++
        s.docIndexes.map { case (k, v) => s"docIndexes.$k\t$v" } ++
        s.graphVertices.map { case (k, v) => s"graphVertices.$k\t$v" } ++
        s.graphEdges.map { case (k, v) => s"graphEdges.$k\t$v" }
      Io.write(s"$work/summary$i.tsv", lines)
      if (timed) Io.write(s"$work/store_bytes$i", Seq(
        StoreDelta.snap(store).values.map(_._1).sum.toString))
      Io.deleteTree(store)
      i += 1
    }
    (0 until warm).foreach(_ => once(timed = false))
    out("ready")
    while (i < warm + timedOps) once(timed = true)
    Layers.emit()
  }

  /** `FecPipeline.run`, stage for stage and in the same order, with a
    * span around each layer call. */
  def tracedRun(spark: SparkSession, bulkDir: String, storeDir: String)
      : FecPipeline.Summary = {
    def bulk(t: String) = {
      val txt = s"$bulkDir/$t.txt"
      FecSchemas.readBulkFile(spark, t,
        if (Files.exists(Paths.get(txt))) txt else s"$bulkDir/$t.csv")
    }
    val runTs = Io.runTs
    val cn = bulk("cn22"); val cm = bulk("cm22"); val ccl = bulk("ccl22")
    val indiv = bulk("indiv22"); val oth = bulk("oth22")
    val oppexp = bulk("oppexp22"); val indExp = bulk("independent_expenditure_2022")
    val contributions = Stage("fec.master")(
      MasterTables.contributions(oth, indiv).localCheckpoint(true))
    val expenditures = Stage("fec.master")(
      MasterTables.expenditures(oppexp, indExp, cm, cn).localCheckpoint(true))
    val elastic = Stage("fec.views")(
      ContributionViews.elastic(contributions, cn, cm).localCheckpoint(true))
    val docs = new DocStore(spark, s"$storeDir/docs")
    Stage.io(s"$storeDir/docs") {
      docs.index("federal_fec_candidates", "doc_id", FecDocs.candidateDocs(cn, runTs))
      docs.index("federal_fec_committees", "doc_id", FecDocs.committeeDocs(cm, runTs))
      docs.upsert("federal_fec_contributions", "doc_id",
        FecDocs.contributionDocs(elastic, runTs))
    }
    val graph = new GraphStore(spark, s"$storeDir/graph")
    Stage.graph(s"$storeDir/graph") {
      FecGraph.loadCandidates(graph, cn)
      FecGraph.loadCommittees(graph, cm, ccl)
      FecGraph.loadContributions(graph, elastic)
      FecGraph.loadExpenditures(graph, expenditures)
    }
    Stage("io.read") {
      val docIndexes = Seq("federal_fec_candidates", "federal_fec_committees",
        "federal_fec_contributions")
        .map(i => i -> docs.read(i).map(_.count()).getOrElse(0L)).toMap
      val vLabels = Seq("Candidate", "Committee", "Contribution", "Donor",
        "State", "Party", "Race", "Expenditure")
      val eTypes = Seq("RUNNING_IN", "RUNNING_FOR", "CAND_PARTY", "LINKAGE",
        "CONTRIBUTED_TO_IN", "CONTRIBUTED_TO_OUT", "CONTRIBUTED_TO",
        "HAPPENED_ON", "SPENT", "IDENTIFIES", "PAID", "TARGETS")
      val master = contributions.count()
      Layers.add("fec.master_rows", master.toDouble)
      FecPipeline.Summary(
        masterContributions = master,
        masterExpenditures = expenditures.count(),
        elasticRows = elastic.count(),
        docIndexes = docIndexes,
        graphVertices = vLabels.flatMap(l =>
          graph.readVertices(l).map(df => l -> df.count())).toMap,
        graphEdges = eTypes.flatMap(t =>
          graph.readEdges(t).map(df => t -> df.count())).toMap)
    }
  }
}

/** A traced stage: a span around one layer call. */
object Stage {
  def apply[T](name: String)(body: => T): T = Trace.span(name)(body)
  // the directory listings run outside the span: they are tracing cost,
  // charged to the operation's own time, not to the layer
  def io[T](root: String)(body: => T): T =
    StoreDelta.measured(root, "io")(apply("io.doc_write")(body))
  def graph[T](root: String)(body: => T): T =
    StoreDelta.measured(root, "graph")(apply("graph.merge")(body))
}

/** fec_amend: 1,000-row contribution amendment files land one at a time;
  * an AvailableNow stream over the `fecpipe` source drains each into the
  * doc and graph stores. Freshness is the time from landing to commit. The
  * base store is built in set-up by draining the base files through the
  * same stream: the store an incremental deployment holds. */
object Amend {
  import Harness.{out, secs}

  def run(spark: SparkSession, work: String, timedOps: Int): Unit = {
    val store = s"$work/store"
    val cn = FecSchemas.readBulkFile(spark, "cn22", s"$work/bulk/cn22.txt")
      .localCheckpoint(true)
    val cm = FecSchemas.readBulkFile(spark, "cm22", s"$work/bulk/cm22.txt")
      .localCheckpoint(true)
    val docs = new DocStore(spark, s"$store/docs")
    val graph = new GraphStore(spark, s"$store/graph")
    val noOth = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], FecSchemas.oth)
    val batches = Files.list(Paths.get(s"$work/batches")).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    val warm = Files.readString(Paths.get(s"$work/warmups")).trim.toInt
    val landing = s"$work/landing"
    Files.createDirectories(Paths.get(landing))
    Files.createDirectories(Paths.get(s"$work/readback"))

    // the same stage functions, in the same order, as FecPipeline.run's
    // contribution path
    def sink(df: DataFrame): Unit = {
      if (Trace.enabled) Layers.add("streaming.microbatches", 1)
      val master = Stage("fec.master")(
        MasterTables.contributions(noOth, df).localCheckpoint(true))
      if (Trace.enabled) Layers.add("fec.master_rows", master.count().toDouble)
      val elastic = Stage("fec.views")(
        ContributionViews.elastic(master, cn, cm).localCheckpoint(true))
      Stage.io(s"$store/docs")(docs.upsert("federal_fec_contributions", "doc_id",
        FecDocs.contributionDocs(elastic, Io.runTs)))
      Stage.graph(s"$store/graph")(FecGraph.loadContributions(graph, elastic))
    }
    def drain(): Unit = {
      val q = spark.readStream.format("fecpipe").option("table", "indiv22")
        .option("mode", "permissive").load(landing)
        .writeStream
        .option("checkpointLocation", s"$work/checkpoint")
        .outputMode("update")
        .foreachBatch { (df: DataFrame, _: Long) => sink(df) }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    var k = 0
    def land(b: String, timed: Boolean): Unit = {
      Trace.newTrace()
      val was = Trace.enabled
      Trace.enabled = was && timed
      val t0 = System.nanoTime()
      // the batch's files land (an atomic rename into the landing
      // directory), then the stream drains them
      Trace.span("op.amend")(Layers.counted {
        for (f <- Files.list(Paths.get(s"$work/batches/$b")).iterator().asScala
            .toSeq.sorted)
          Files.move(f, Paths.get(s"$landing/$b-${f.getFileName}"))
        Stage("streaming.trigger")(drain())
      })
      val dt = secs(t0)
      Trace.enabled = was
      if (timed) {
        out(f"op amend $b $dt%.6f ${if (was) 1 else 0}")
        readBack(b)
      } else out(f"setup drain_$b $dt%.6f")
    }
    def contributionDocs() = docs.read("federal_fec_contributions").get
      .select(col("doc_id").as("sub_id"), col("row.transaction_amt"),
        col("row.amndt_ind"))
    def contributionVertices() = graph.readVertices("Contribution").get
      .select(col("sub_id"), col("transaction_amt"), col("amndt_ind"))
    def lines(df: DataFrame, cols: Int) =
      df.collect().map(r => (0 until cols).map(r.get).mkString("\t")).toSeq
    /** The amended and new contributions of a batch, read back from both
      * stores after its commit. */
    def readBack(b: String): Unit = {
      val keys = Files.readAllLines(Paths.get(s"$work/expect/$b")).asScala.toSeq
      Io.write(s"$work/readback/$b.docs",
        lines(contributionDocs().filter(col("sub_id").isin(keys: _*)), 3))
      Io.write(s"$work/readback/$b.graph",
        lines(contributionVertices().filter(col("sub_id").isin(keys: _*)), 3))
    }

    while (k < warm) { land(batches(k), timed = false); k += 1 }
    out("ready")
    require(batches.size >= warm + timedOps,
      s"${batches.size} batches staged, ${warm + timedOps} needed")
    while (k < warm + timedOps) { land(batches(k), timed = true); k += 1 }
    // end state, outside every timed window
    Io.write(s"$work/end_state.docs", lines(contributionDocs(), 2))
    Io.write(s"$work/end_state.graph", lines(contributionVertices(), 2))
    Io.write(s"$work/batches_landed", Seq(k.toString))
    Layers.emit()
  }
}

/** catalog_mix: analyst reads over the catalog, repeated in passes. */
object Mix {
  import Harness.{out, secs}

  def run(spark: SparkSession, work: String, timedOps: Int): Unit = {
    val tables = s"$work/tables"
    val names = Files.readAllLines(Paths.get(s"$work/mix.txt")).asScala
      .map(_.split("\t")).map(a => a(0) -> a(1)).toSeq
    val warm = Files.readString(Paths.get(s"$work/warmups")).trim.toInt
    val resultDir = s"$work/results"
    Files.createDirectories(Paths.get(resultDir))
    Files.createDirectories(Paths.get(s"$work/oracles"))
    for ((n, _) <- names; sql <- graft.SparkEntry.oracleSql.get(n))
      Files.writeString(Paths.get(s"$work/oracles/$n.sql"), sql)

    var passNo = 0
    def pass(timed: Boolean, traced: Boolean): Double = {
      val was = Trace.enabled
      Trace.enabled = traced
      val digests = ArrayBuffer[String]()
      var querySum = 0.0
      for ((n, category) <- names) {
        Trace.newTrace()
        val t0 = System.nanoTime()
        val rows = Trace.span("op.query")(Layers.counted {
          val df = Stage("ops.plan") {
            val d = graft.SparkEntry.queries(n)(spark, tables)
            d.queryExecution.executedPlan
            d
          }
          val r = Stage("ops.exec")(df.collect())
          (df.schema, r)
        })
        val dt = secs(t0)
        querySum += dt
        if (traced) Layers.add(s"ops.${category}_s", dt)
        if (timed) out(f"op query $n@pass$passNo $dt%.6f ${if (traced) 1 else 0}")
        digests += s"$n\t${Digest.of(rows._2)}\t${rows._2.length}"
        if (passNo == 0)
          Io.write(s"$resultDir/$n.jsonl",
            Json.arr(rows._1.fieldNames.toSeq.map(Json.str)) +:
              rows._2.toSeq.map(r => Json.value(r.toSeq)))
      }
      Trace.enabled = was
      Io.write(s"$work/digests$passNo.tsv", digests)
      passNo += 1
      querySum
    }
    while (passNo < warm) {
      val n = passNo
      out(f"setup warmup_pass$n ${pass(timed = false, traced = false)}%.6f")
    }
    out("ready")
    while (passNo < warm + timedOps) pass(timed = true, traced = Trace.enabled)
    Io.write(s"$work/passes", Seq(passNo.toString))
    Layers.emit()
  }
}

/** JSON rendering of collected rows for the oracle comparison: numbers
  * as numbers, dates and timestamps as ISO-8601 text, structs as objects,
  * arrays as lists. */
object Json {
  private val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  private def time(t: java.time.LocalDateTime): String =
    iso.format(t) + (if (t.getNano == 0) "" else f".${t.getNano / 1000}%06d")
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Boolean) => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case s: String => str(s)
    case t: java.sql.Timestamp => str(time(t.toLocalDateTime))
    case t: java.time.LocalDateTime => str(time(t))
    case t: java.time.Instant =>
      str(time(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)))
    case d: java.sql.Date => str(d.toString)
    case d: java.time.LocalDate => str(d.toString)
    case r: Row if r.schema != null =>
      r.schema.fieldNames.zip(r.toSeq).map { case (k, x) => s"${str(k)}:${value(x)}" }
        .mkString("{", ",", "}")
    case r: Row => arr(r.toSeq.map(value))
    case s: scala.collection.Seq[_] => arr(s.toSeq.map(value))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case a: Array[Byte] => str(a.map("%02x".format(_)).mkString)
    case other => str(other.toString)
  }
}

/** Order-insensitive digest of a collected result. Floating values are
  * rounded to 12 significant digits, so a result that differs only in
  * summation order still matches. */
object Digest {
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(12))
        .stripTrailingZeros().toString
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${canon(k)}:${canon(x)}" }.sorted
        .mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
