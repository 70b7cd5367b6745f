package perfbench

import java.io.File
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.{MiniKafkaServer, SparkEntry}
import graft.news.{DailyReport, Lake, ReportRender}
import graft.operators
import graft.sources.{Http, KafkaWire, Rss}
import graft.streaming.{DecontamStream, EnrichStream, IngestPipeline, LshDedupStream, SpanDedupStream}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run inside one JVM:
  *   perfbench.PerfBench <workload> <workDir> <seconds> <trace 0|1> <cores>
  * or, to train the class-data archive the build makes, the report and
  * ingest set-ups (between them they load most of the classes every
  * workload loads) and no timed phase:
  *   perfbench.PerfBench train <workDir> -1 0 <cores>
  *
  * Set-up (session, warm-up on separate inputs), then a timed phase of
  * whole rounds until `seconds` have passed, then `<workDir>/result.json`.
  * Inputs come from gen.py; outputs land under `<workDir>` for checks.py. */
object PerfBench {

  final case class Op(round: String, name: String, secs: Double, error: String)

  final class Ctx(val spark: SparkSession, val work: String, val seconds: Double,
      val cores: Int, val trace: Trace, val probes: Probes) {
    val ops = ArrayBuffer[Op]()
    var timedStartMs = 0L
    var timedStartNs = 0L
    var rounds = 0
    /** Nanoseconds the traced ingest replay took; not part of any op. */
    val replayNs = new java.util.concurrent.atomic.AtomicLong
    val extra = scala.collection.mutable.LinkedHashMap[String, Double]()

    def elapsed: Double = (System.nanoTime() - timedStartNs) / 1e9

    def startTimed(): Reading = {
      log("warm-up done")
      ops.clear()
      replayNs.set(0L)
      trace.reset()
      spark.catalog.clearCache()
      System.gc()
      val r = probes.read()
      timedStartMs = System.currentTimeMillis()
      timedStartNs = System.nanoTime()
      r
    }

    /** Time one op; a thrown error marks it failed, never aborts the run. */
    def op(round: String, name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      val r0 = replayNs.get
      val err = try { trace("op")(body); null }
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $round/$name failed: $e")
          String.valueOf(e.getMessage).take(300)
        }
      ops += Op(round, name, (System.nanoTime() - t0 - (replayNs.get - r0)) / 1e9, err)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, work, seconds, traceFlag, cores) = args
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.default.parallelism", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // as graft.Bench: a compile cache large enough not to thrash
      .config("spark.sql.codegen.cache.maxEntries", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session up")
    val ctx = new Ctx(spark, work, seconds.toDouble, cores.toInt,
      new Trace(traceFlag == "1"), new Probes(spark))
    def run(w: String): (Reading, Reading) = w match {
      case "ingest" => Ingest.run(ctx)
      case "report" => Report.run(ctx)
      case "curate" => Curate.run(ctx)
    }
    if (workload == "train") {
      Seq("report", "ingest").foreach(run)
      spark.stop()
      return
    }
    val (before, after) = run(workload)
    val timedS = (System.nanoTime() - ctx.timedStartNs) / 1e9
    log(f"timed phase ${timedS}%.1f s")
    val heap = ctx.probes.liveHeapMb()
    writeResult(ctx, timedS, heap, after - before)
    spark.stop()
  }

  /** A progress line in the JVM log, stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $msg")

  /** A JSON string literal (`null` for null). */
  def q(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def num(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  private def writeResult(ctx: Ctx, timedS: Double, heap: Double,
      delta: Map[String, Double]): Unit = {
    val ops = ctx.ops.map(o =>
      s"""{"round":${q(o.round)},"name":${q(o.name)},"secs":${o.secs},"error":${q(o.error)}}""")
    val layers = if (ctx.trace.enabled) delta ++ ctx.trace.selfSeconds else delta
    val json =
      s"""{"timed_start_ms":${ctx.timedStartMs},"timed_s":$timedS,"rounds":${ctx.rounds},""" +
        s""""heap_live_mb":$heap,"layers":${num(layers)},"extra":${num(ctx.extra)},""" +
        s""""ops":${ops.mkString("[", ",\n", "]")}}"""
    Files.writeString(Paths.get(ctx.work, "result.json"), json)
    if (ctx.trace.enabled)
      Files.writeString(Paths.get(ctx.work, "spans.json"), ctx.trace.json)
  }

  def children(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)

  /** Runs whole rounds until the timed phase has lasted `seconds`; none
    * when `seconds` is negative (training). */
  def timedRounds[R](ctx: Ctx, rounds: Seq[R])(round: R => Unit): Unit = {
    val it = rounds.iterator
    while (it.hasNext && ctx.seconds >= 0 && (ctx.rounds == 0 || ctx.elapsed < ctx.seconds)) {
      round(it.next()); ctx.rounds += 1
    }
  }
}

/** `ingest`: RSS over loopback HTTP → Kafka → enrich → gates → lake. */
object Ingest {
  import PerfBench._

  private val Host = "127.0.0.1"
  /** A round is this many polls; one poll gives a single op too few
    * samples for a steady median, and a third poll does not fit the
    * time a full benchmark pass may take. */
  val PollsPerRound = 2

  def run(ctx: Ctx): (Reading, Reading) = {
    val spark = ctx.spark
    val root = s"${ctx.work}/ingest"
    val feeds = Paths.get(root, "feeds")
    val server = HttpServer.create(new InetSocketAddress(Host, 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val f = feeds.resolve(ex.getRequestURI.getPath.stripPrefix("/"))
      val (code, body) =
        if (Files.isRegularFile(f)) (200, Files.readAllBytes(f))
        else (404, Array.emptyByteArray)
      ex.getResponseHeaders.add("Content-Type", "application/rss+xml")
      ex.sendResponseHeaders(code, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    val base = s"http://$Host:${server.getAddress.getPort}"
    val kafka = new MiniKafkaServer(numPartitions = 1)
    try {
      val eval = DecontamStream.evalShingles(spark, s"$root/eval").persist()
      eval.count()
      val out = s"$root/out"
      val topic = "news"
      var batches = 0
      val enriched = EnrichStream.enrichParsed(
        EnrichStream.fromKafkaWire(spark, Host, kafka.port, topic))
      val query = enriched.writeStream
        .option("checkpointLocation", s"$out/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batches += 1
          if (ctx.trace.enabled) tracedBatch(ctx, batch, out, eval)
          else IngestPipeline.processBatch(batch, s"$out/store", s"$out/seen",
            s"$out/lsh", eval)
        }.start()
      // One op is one poll of all feeds, from the poll to lake-visible:
      // one producer sends the poll (one partition, so the broker gets
      // it in one append) and the stream catches up.
      def poll(name: String): Unit = {
        val urls = children(s"$feeds/$name").map(f => s"$base/$name/${f.getName}")
        ctx.op("ingest", name) {
          val wire = ctx.trace("sources.rss_poll") {
            Rss.toKafkaJson(Rss.pollOnce(spark, urls, new Http.HttpFeedFetcher()))
          }
          ctx.trace("sources.kafka_produce") {
            KafkaWire.produceDataFrame(wire.coalesce(1), Host, kafka.port, topic,
              System.currentTimeMillis())
          }
          query.processAllAvailable()
        }
      }
      try {
        // the first poll warms up; the state it lands is what the
        // timed polls are gated against
        val polls = children(feeds.toString).map(_.getName)
        poll(polls.head)
        val before = ctx.startTimed()
        batches = 0
        timedRounds(ctx, polls.tail.grouped(PollsPerRound).toSeq)(_.foreach(poll))
        ctx.extra("trace.replay_s") = ctx.replayNs.get / 1e9
        val after = ctx.probes.read()
        ctx.extra("streaming.batches") = batches.toDouble
        if (ctx.trace.enabled) {
          // bytes on the wire, read back after the timed phase
          val all = KafkaWire.pollOnce(spark, Host, kafka.port, topic)
            .agg(sum(length(col("value")) + coalesce(length(col("key")), lit(0))))
            .head().getLong(0)
          ctx.extra("sources.kafka_mb") = all / (ctx.ops.length + 1.0) / (1024.0 * 1024.0)
        }
        (before, after)
      } finally query.stop()
    } finally { kafka.stop(); server.stop(0) }
  }

  /** Steps of `replay`, in the order `IngestPipeline.processBatch` takes them. */
  val Steps = Seq("streaming.span_gate", "streaming.lsh_gate", "streaming.decontam_gate",
    "news.lake_upsert", "streaming.state_append")

  /** Set once the replica state has been copied from the real state. */
  @volatile private var replicaReady = false

  /** A traced micro-batch. The batch is materialized first (enrich and
    * the Kafka scan). In the timed phase `replay` then runs the gate
    * chain step by step on the replica state under `<out>/replay`, a
    * copy of the real state taken at the first timed batch. Then the
    * real `IngestPipeline.processBatch` runs on the real state under one
    * span, whose time is split over the layers in the proportions the
    * replay measured. The replay itself is tracing overhead: it is kept
    * out of the ops and the timed phase. */
  private def tracedBatch(ctx: Ctx, batch: DataFrame, out: String,
      eval: DataFrame): Unit = {
    val t = ctx.trace
    val s = batch.sparkSession
    t("udfs.enrich") {
      s.sparkContext.setLocalProperty(Counters.Tag, "consume")
      try { batch.persist(); batch.count() }
      finally s.sparkContext.setLocalProperty(Counters.Tag, null)
      ctx.probes.read()
      t.move("udfs.enrich", "sources.kafka_consume",
        ctx.probes.counters.takeLeafSeconds("consume"))
    }
    val timed = ctx.timedStartNs != 0L
    val r0 = System.nanoTime()
    val weights = if (!timed) Map.empty[String, Double] else t("trace.replay") {
      if (!replicaReady) {
        Seq("store", "seen", "lsh").foreach(d =>
          copyTree(Paths.get(out, d), Paths.get(out, "replay", d)))
        replicaReady = true
      }
      replay(batch, s"$out/replay", eval)
    }
    ctx.replayNs.addAndGet(System.nanoTime() - r0)
    val p0 = System.nanoTime()
    t("streaming.process_batch") {
      IngestPipeline.processBatch(batch, s"$out/store", s"$out/seen", s"$out/lsh", eval)
    }
    t.split("streaming.process_batch", weights, (System.nanoTime() - p0) / 1e9)
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    if (Files.exists(from)) Files.walk(from).forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }

  /** `IngestPipeline.processBatch`'s body, one step at a time with each
    * gate materialized on its own, against the state under `root`;
    * returns each step's seconds. This copy must follow `processBatch`:
    * selftest.py runs both on the same batches and requires the same
    * lake and gate state. */
  def replay(batch: DataFrame, root: String, eval: DataFrame): Map[String, Double] = {
    val s = batch.sparkSession
    val secs = scala.collection.mutable.LinkedHashMap[String, Double]()
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally secs(name) = (System.nanoTime() - t0) / 1e9
    }
    def mat(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }
    val exists = graft.benchaccess.LakeAccess.pathExists(s, _: String)
    val (storePath, seenPath, lshPath) = (s"$root/store", s"$root/seen", s"$root/lsh")
    val docs = batch.select(col("link").as("doc_id"), col("summary").as("text"))
    val seen = if (exists(seenPath)) s.read.parquet(seenPath) else SpanDedupStream.emptySeen(s)
    val span = step(Steps(0)) {
      mat(SpanDedupStream.score(docs, seen).withColumnRenamed("doc_id", "link"))
    }
    val (bandsP, shP, szP) = (s"$lshPath/bands", s"$lshPath/shingles", s"$lshPath/sizes")
    val (cBands, cSh, cSz) =
      if (exists(szP)) (s.read.parquet(bandsP), s.read.parquet(shP), s.read.parquet(szP))
      else LshDedupStream.emptyArtifacts(s)
    val lsh = step(Steps(1)) {
      mat(LshDedupStream.gate(docs, cBands, cSh, cSz).withColumnRenamed("doc_id", "link"))
    }
    val dec = step(Steps(2)) {
      mat(DecontamStream.score(docs, eval).withColumnRenamed("doc_id", "link"))
    }
    step(Steps(3)) {
      Lake.upsertByLink(s, batch.join(span, Seq("link"), "left")
        .join(lsh, Seq("link"), "left").join(dec, Seq("link"), "left"), storePath)
    }
    step(Steps(4)) {
      val fresh = mat(SpanDedupStream.freshHashes(docs, seen))
      fresh.write.mode(SaveMode.Append).parquet(seenPath)
      val newDocs = mat(docs.dropDuplicates("doc_id")
        .join(cSz.select(col("c_id").as("doc_id")), Seq("doc_id"), "left_anti"))
      val (nb, nsh, nsz) = LshDedupStream.corpusArtifacts(newDocs)
      val mats = Seq(nb, nsh, nsz).map(mat)
      mats(0).write.mode(SaveMode.Append).parquet(bandsP)
      mats(1).write.mode(SaveMode.Append).parquet(shP)
      mats(2).write.mode(SaveMode.Append).parquet(szP)
      (mats :+ fresh :+ newDocs).foreach(_.unpersist(blocking = false))
    }
    Seq(span, lsh, dec).foreach(_.unpersist(blocking = false))
    secs.toMap
  }
}

/** `report`: one day's DailyReport (R1–R5) and its PDF per op. */
object Report {
  import PerfBench._

  private def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq.filter(_.nonEmpty)

  private def tsv(path: String, df: DataFrame): Unit =
    Files.writeString(Paths.get(path),
      df.collect().map(_.toSeq.map(String.valueOf).mkString("\t")).mkString("", "\n", "\n"))

  def run(ctx: Ctx): (Reading, Reading) = {
    val root = s"${ctx.work}/report"
    def report(archive: String, round: String, day: String): Unit = {
      val out = s"$root/out/$round"
      new File(out).mkdirs()
      ctx.op(round, day) {
        val r = reports(ctx, archive, day)
        val t = ctx.trace
        t("news.r1") { tsv(s"$out/r1.tsv", r("r1_category_counts")) }
        t("news.r2") {
          tsv(s"$out/r2.tsv", r("r2_keyword_counts"))
          tsv(s"$out/r2b.tsv", r("r2b_top_keywords"))
        }
        t("news.r3") { tsv(s"$out/r3.tsv", r("r3_article_list").select("id", "sentiment")) }
        t("news.cluster") {
          val r4 = r("r4_clustering")
          tsv(s"$out/r4.tsv", if (r4.columns.isEmpty) r4 else r4.select("id", "cluster"))
        }
        t("news.r5") { tsv(s"$out/r5.tsv", r("r5_noun_frequencies")) }
        val pdf = t("news.pdf") { ReportRender.pdf(day, r) }
        Files.write(Paths.get(s"$out/report.pdf"), pdf)
      }
      ctx.spark.catalog.clearCache()
    }
    lines(s"$root/warm_days.txt").foreach(d =>
      report(s"$root/warm.jsonl", s"warm-$d", d))
    val before = ctx.startTimed()
    val days = lines(s"$root/days.txt")
    // one round is one day's report; the days repeat in order
    timedRounds(ctx, Iterator.from(0).map(i => (i, days(i % days.length))).to(LazyList)) {
      case (i, d) => report(s"$root/archive.jsonl", f"$i%03d", d)
    }
    (before, ctx.probes.read())
  }

  /** `DailyReport.run`, or in a traced run its stages one by one with
    * the day's slice materialized under its own span. */
  private def reports(ctx: Ctx, archive: String, day: String): Map[String, DataFrame] =
    if (!ctx.trace.enabled) DailyReport.run(ctx.spark, archive, day)
    else {
      val d = ctx.trace("news.archive_scan") {
        val s = DailyReport.daySlice(DailyReport.readArchive(ctx.spark, archive), day).persist()
        s.count(); s
      }
      val r4 = ctx.trace("news.cluster") { DailyReport.clustering(d) }
      Map("r1_category_counts" -> DailyReport.categoryCounts(d),
        "r2_keyword_counts" -> DailyReport.keywordCounts(d),
        "r2b_top_keywords" -> DailyReport.topKeywords(d),
        "r3_article_list" -> DailyReport.articleList(d),
        "r4_clustering" -> r4,
        "r5_noun_frequencies" -> DailyReport.nounFrequencies(d))
    }
}

/** `curate`: the corpus-side inventory queries over a fresh corpus,
  * so every artifact is built cold. */
object Curate {
  import PerfBench._

  val CacheRoots = Seq("/tmp/graft-artifact-cache", "/tmp/graft-postings-cache",
    "/tmp/graft-ivf-cache", "/tmp/graft-incpostings-cache")

  /** The modules `SparkEntry.queries` is the union of, in its order (a
    * later module's entry wins a name two share). A query's family is
    * its module. */
  val Modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "relational" -> operators.Relational.queries, "extended" -> operators.Extended.queries,
    "extended2" -> operators.Extended2.queries, "extended3" -> operators.Extended3.queries,
    "tpchextra" -> operators.TpchExtra.queries, "asof" -> operators.AsOf.queries,
    "textops" -> operators.TextOps.queries, "curation" -> operators.Curation.queries,
    "dedup" -> operators.Dedup.queries, "dedupcluster" -> operators.DedupCluster.queries,
    "graph" -> operators.Graph.queries, "sketches" -> operators.Sketches.queries,
    "layout" -> operators.Layout.queries, "maintenance" -> operators.Maintenance.queries,
    "similarity" -> operators.Similarity.queries, "events" -> operators.Events.queries,
    "multimodal" -> operators.Multimodal.queries, "mlops" -> operators.MLOps.queries,
    "scale2" -> operators.Scale2.queries, "simjoin" -> operators.SimJoin.queries,
    "postingsindex" -> operators.PostingsIndex.queries,
    "incpostings" -> operators.IncPostings.queries, "ivfindex" -> operators.IvfIndex.queries)

  def family(name: String): String =
    Modules.reverseIterator.find(_._2.contains(name)).map(_._1).getOrElse("other")

  private val otherTables = graft.Tables.names.filterNot(Set("documents", "embeddings"))

  /** True when `e` reports a missing path of a table the corpus leaves
    * out. Any other error keeps the query, and the timed pass counts it
    * as failed. */
  private def needsOtherTable(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists { c =>
      val m = String.valueOf(c.getMessage)
      otherTables.exists(t => m.contains(s"/$t.parquet"))
    }

  private def cacheEntries(): Set[File] =
    CacheRoots.flatMap(r => children(r)).toSet

  private def bytes(f: File): Long =
    if (f.isDirectory) children(f.getPath).map(bytes).sum else f.length()

  final case class Query(name: String, fn: (SparkSession, String) => DataFrame,
      tables: Set[String])

  /** Of each family, the first `SparkEntry.queries` query by name whose
    * plan builds over `corpus`, which holds only the documents and
    * embeddings tables (a plan that needs any other table fails on that
    * table's missing path), with the tables its plan reads. */
  def select(spark: SparkSession, corpus: String): Seq[Query] = {
    val chosen = scala.collection.mutable.LinkedHashMap[String, Query]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!chosen.contains(family(name))) plan(spark, corpus, name, fn)
        .foreach(q => chosen(family(name)) = q)
    }
    chosen.values.toSeq.sortBy(_.name)
  }

  private def plan(spark: SparkSession, corpus: String, name: String,
      fn: (SparkSession, String) => DataFrame): Option[Query] =
    try {
      val df = fn(spark, corpus)
      df.queryExecution.assertAnalyzed()
      Some(Query(name, fn, Set("documents", "embeddings")
        .filter(t => df.inputFiles.exists(_.contains(s"/$t.parquet")))))
    } catch { case e: Throwable =>
      if (needsOtherTable(e)) None else Some(Query(name, fn, Set.empty))
    }

  def run(ctx: Ctx): (Reading, Reading) = {
    val root = s"${ctx.work}/curate"
    val selected = select(ctx.spark, s"$root/warm")
    log("selection done")
    Files.writeString(Paths.get(root, "selected.txt"), selected.map(q =>
      s"${q.name}\t${family(q.name)}\t${q.tables.toSeq.sorted.mkString(",")}")
      .mkString("", "\n", "\n"))
    // warm-up: the selected queries over the warm corpus, `cores` at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    selected.map { q =>
      pool.submit(() => scala.util.Try(q.fn(ctx.spark, s"$root/warm").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/out/warm/${q.name}")))
    }.foreach(_.get)
    pool.shutdown()
    val cacheBefore = cacheEntries()
    val before = ctx.startTimed()
    val corpora = children(root).map(_.getName).filter(_.matches("c\\d+"))
    timedRounds(ctx, corpora) { c =>
      val out = s"$root/out/$c"
      selected.foreach { q =>
        ctx.op(c, q.name) {
          ctx.trace(s"operators.${family(q.name)}") {
            q.fn(ctx.spark, s"$root/$c").coalesce(1).write.mode("overwrite")
              .parquet(s"$out/${q.name}")
          }
        }
      }
      val oracles = SparkEntry.oracleSql.filter { case (k, _) => selected.exists(_.name == k) }
      Files.writeString(Paths.get(out, "oracle_sql.json"), oracles.map { case (k, v) =>
        s"${q(k)}: ${q(v)}" }.mkString("{", ",\n", "}"))
    }
    val after = ctx.probes.read()
    val built = cacheEntries() -- cacheBefore
    ctx.extra("operators.artifacts_built") = built.size.toDouble
    ctx.extra("operators.artifact_mb") = built.toSeq.map(bytes).sum / (1024.0 * 1024.0)
    (before, after)
  }
}
