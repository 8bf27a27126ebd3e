package graft.sessionbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{BenchConsume, Pipeline, Session, SparkEntry, Tables}
import graft.operators.{CartAnalytics, Dedup, Similarity, TextAnalysis}
import graft.sources.{Artifacts, Clean, Export, Ingest}

/** The session benchmark's JVM side: one closed-loop client that drives a
  * workload through the engine's public entry points, timing each call
  * into a layer from outside, and writes what it observed as one JSON
  * record. `sessionbench/run.py` builds the inputs, launches this, checks
  * the record and prints the metrics.
  *
  * Usage: SessionBench workload=<serve|notebook|build_refresh> work=<dir>
  *   out=<record.json> seconds=<n> trace=<0|1>
  * `work` holds the generated corpora (`base`, and for build_refresh
  * `appended.staged` and `scratch`); the warehouse is `work/warehouse`.
  */
object SessionBench {

  /** The 23 persisted artifact families, each with the public entry point
    * that builds (or serves) it for a corpus directory. */
  val Families: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "shingles" -> Dedup.persistedShingles _,
    "h60" -> Dedup.persistedH60Shingles _,
    "dedupsig" -> Dedup.persistedDedupIndex _,
    "scored" -> Dedup.persistedScoredCandidates _,
    "edges" -> Dedup.persistedLshEdges _,
    "contam" -> Dedup.persistedContamPairs _,
    "labels" -> Dedup.clusterLabels _,
    "wtf" -> TextAnalysis.persistedWordTf _,
    "dbg" -> TextAnalysis.persistedBigramTf _,
    "spans" -> Dedup.persistedSpanTf _,
    "exsh" -> Dedup.persistedExcerptShingles _,
    "contsig" -> Dedup.persistedContSig _,
    "contaud" -> Dedup.persistedContainmentAudit _,
    "profhist" -> CartAnalytics.persistedProfHist _,
    "profstrh" -> CartAnalytics.persistedProfStrHist _,
    "profile" -> CartAnalytics.q15ProfileOrders _,
    "profstr" -> CartAnalytics.q17ProfileOrdersStrings _,
    "d10verd" -> Dedup.d10IncrementalDedup _,
    "e15verd" -> Dedup.e15StreamDedup _,
    "cents" -> Similarity.trainedCentroids _,
    "knng" -> Similarity.knnGraph _,
    "knnl" -> Similarity.s11KnnComponents _,
    "semv" -> Similarity.semVerdicts _)

  def main(args: Array[String]): Unit = {
    val opts = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val bench = new SessionBench(opts("workload"), work, opts("seconds").toDouble,
      opts("trace") == "1")
    val code =
      try { bench.run(); 0 }
      catch { case e: Throwable =>
        e.printStackTrace()
        bench.rec("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        2
      }
    bench.write(Paths.get(opts("out")))
    sys.exit(code)
  }

  /** Artifact table names are `<prefix>_<dirhash>_<fp8>_<plan8>`. */
  def family(table: String): String = table.takeWhile(_ != '_')
}

final class SessionBench(workload: String, work: Path, seconds: Double, trace: Boolean) {
  import SessionBench._

  val rec = mutable.LinkedHashMap[String, Any]()
  private val tracer = new Tracer(trace)
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val phases = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var spark: SparkSession = _
  private var probe: Probe = _

  private val base = work.resolve("base").toString
  private val warehouse = work.resolve("warehouse")
  private def artifactDb: Path = warehouse.resolve(Artifacts.Db + ".db")

  /** The serve set: a stratified sample of the 109 queries, drawn from a
    * measured pass over all of them (README.md, "Query sets"). Each family
    * gets queries in proportion to its query count, and within a family
    * the queries are the subset whose mean wall and job count come closest
    * to the family's, with artifact readers in proportion too. */
  val ServeQueries: Seq[String] = Seq(
    "d11_source_overlap", "d20_boilerplate_strip", "e09_asof_attribution",
    "m02_frame_sample", "p02_shard_packing", "q01_top_abandoned_parts",
    "q07_computed_key_join", "q11_daily_gapfill", "s08_crossmodal_audit",
    "t02_quality_score", "t09_distinctive_terms")

  /** The refresh check set: a reader of every family a query serves
    * (exsh, contsig, dedupsig, profhist and profstrh feed other families'
    * builds only), plus m01, so every operator family appears. */
  val RefreshQueries: Seq[String] = Seq(
    "d02_ngram_jaccard", "d03_minhash_lsh", "d07_contamination", "d08_lsh_clusters",
    "d10_incremental_dedup", "d12_boilerplate_spans", "d16_containment_audit",
    "d18_contamination_sketch", "e15_stream_dedup", "m01_media_features",
    "p01_curation_ledger", "q15_profile_orders", "q17_profile_orders_strings",
    "s03_ann_ivf", "s09_knn_graph", "s11_knn_components", "s12_semdedup",
    "t09_distinctive_terms", "t13_bigram_novelty")

  def run(): Unit = {
    rec("workload") = workload
    rec("launch_epoch_s") = tracer.now()
    val t0 = System.nanoTime()
    spark = tracer.span("session.start") {
      Session.builder("sessionbench")
        .config("spark.sql.warehouse.dir", warehouse.toString)
        .getOrCreate()
    }
    rec("session_start_s") = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    probe = new Probe(tracer)
    spark.sparkContext.addSparkListener(probe)
    tracer.onChange = (span, query) => {
      spark.sparkContext.setLocalProperty(Probe.SpanProperty, span)
      spark.sparkContext.setLocalProperty(Probe.QueryProperty, query)
    }
    rec("session_ready_epoch_s") = tracer.now()
    rec("cores") = spark.sparkContext.defaultParallelism
    workload match {
      case "serve" => serve()
      case "build_refresh" => buildRefresh()
      case "notebook" => notebook()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val corpus = if (workload == "build_refresh") work.resolve("scratch").toString else base
    rec("oracle_sql") = SparkEntry.oracleSqlFor(spark, corpus)
      .filter { case (name, _) => queries.exists(_("name") == name) }
    rec("fingerprint_s") = fingerprintSeconds(base)
    rec("peak_rss_mb") = peakRssMb()
    rec("live_heap_mb") = liveHeapMb()
    rec("trace_self_s") = tracer.selfSeconds
    spark.stop()
  }

  // ---- workloads ---------------------------------------------------------

  /** Build the serve set's artifacts, take every query's reference answer
    * in one pass, then run passes over the set until `seconds` have
    * elapsed (at least two passes), clearing the in-JVM cache before each
    * query. */
  private def serve(): Unit = {
    // the families the serve set reads (d11: shingles, s08: edges,
    // t09: wtf), with scored, which edges derive from
    val fams = Seq("shingles", "scored", "edges", "wtf")
    rec("queries_set") = ServeQueries
    phase("build") { fams.foreach(f => buildFamily(f, base)) }
    phase("reference") { ServeQueries.foreach(q => runQuery("reference", 0, q, base)) }
    rec("setup_end_epoch_s") = tracer.now()
    passes(pass => ServeQueries.foreach(q => runQuery("window", pass, q, base)))
  }

  /** The session path: reference answers for the appended corpus and the
    * notebook report in set-up; then, timed, ingest → calendar → clean →
    * cold build of all 23 families → append lands → refresh → one serve
    * pass on the refreshed state → export. */
  private def buildRefresh(): Unit = {
    val staged = work.resolve("appended.staged")
    val appended = work.resolve("appended").toString
    val scratch = work.resolve("scratch").toString
    val fams = Families.map(_._1)
    rec("queries_set") = RefreshQueries
    val refReport = work.resolve("report.reference.csv").toString
    val report = work.resolve("report.csv").toString

    phase("reference") {
      tracer.span("pipeline.run") { Pipeline.run(spark, base, "sb_reference", refReport) }
      fams.foreach(f => buildFamily(f, scratch, "reference"))
      RefreshQueries.foreach(q => runQuery("scratch", 0, q, scratch))
    }
    rec("setup_end_epoch_s") = tracer.now()

    phase("window") {
      notebookIngestAndClean("sb_session")
      phase("build") { fams.foreach(f => buildFamily(f, base)) }
      val watcher = new DirWatcher(artifactDb)
      val returned = phase("refresh") {
        Files.move(staged, Paths.get(appended), StandardCopyOption.ATOMIC_MOVE)
        tracer.span("artifacts.refresh") {
          Dedup.refreshArtifactsAfterAppend(spark, base, appended)
        }
      }
      val seen = watcher.stop()
      rec("refresh_returned") = returned.map(_._1)
      rec("refresh_done") = returned.map { case (fam, table) =>
        Map("family" -> fam, "table" -> table, "seen_epoch_s" -> seen.getOrElse(table, -1.0),
          "bytes" -> du(artifactDb.resolve(table)))
      }
      phase("post_refresh") {
        RefreshQueries.foreach(q => runQuery("post_refresh", 0, q, appended))
      }
      phase("export") {
        tracer.span("export") {
          Export.asDelimitedFile(Pipeline.exportReport(spark, "sb_session"), report)
        }
      }
    }
    rec("reports") = List(report)
    rec("reference_report") = refReport
    rec("export_bytes") = Files.size(Paths.get(report))
  }

  /** The reference notebook's session (BASELINE.md), in its order: the
    * write side (ingest → calendar → clean → profile-family builds) runs
    * once in set-up, timed per layer; [[graft.Pipeline.run]] writes the
    * reference report and one pass of the read side takes the reference
    * answers. The window then repeats the read side, the eleven analytics
    * queries (q01–q11), q15/q17 serving the profile and the export
    * report, until `seconds` have elapsed (at least two passes). */
  private def notebook(): Unit = {
    val analytics = (1 to 11).map(i => f"q$i%02d")
      .flatMap(p => CartAnalytics.queries.keys.filter(_.startsWith(p + "_"))).sorted
    val profiling = Seq("q15_profile_orders", "q17_profile_orders_strings")
    val fams = Seq("profhist", "profile", "profstrh", "profstr")
    val db = "sb_session"
    rec("queries_set") = analytics ++ profiling
    notebookIngestAndClean(db)
    phase("build") { fams.foreach(f => buildFamily(f, base)) }
    val refReport = work.resolve("report.reference.csv").toString
    phase("reference") {
      tracer.span("pipeline.run") { Pipeline.run(spark, base, "sb_reference", refReport) }
      (analytics ++ profiling).foreach(q => runQuery("reference", 0, q, base))
    }
    rec("reference_report") = refReport
    rec("setup_end_epoch_s") = tracer.now()
    val reports = mutable.ArrayBuffer.empty[String]
    passes { pass =>
      (analytics ++ profiling).foreach(q => runQuery("window", pass, q, base))
      val report = work.resolve(s"report.$pass.csv").toString
      phase("export") {
        tracer.span("export") { Export.asDelimitedFile(Pipeline.exportReport(spark, db), report) }
      }
      reports += report
    }
    rec("reports") = reports.toList
    rec("export_bytes") = Files.size(Paths.get(reports.head))
  }

  /** The window: passes of `body` until `seconds` have elapsed and at
    * least two ran. A pass takes about 9 s on 4 cores on serve and on
    * notebook. With one pass, a host disturbance during it skewed the
    * whole run; a third pass would make every run 9 s longer. */
  private def passes(body: Int => Unit): Unit = phase("window") {
    val start = System.nanoTime()
    var pass = 0
    while (pass < 2 || (System.nanoTime() - start) / 1e9 < seconds) {
      pass += 1
      phase(s"pass$pass")(body(pass))
    }
  }

  /** The reference notebook's ingest, calendar and clean steps, as
    * [[graft.Pipeline.run]] composes them, each timed as its own layer. */
  private def notebookIngestAndClean(db: String): Unit = {
    phase("ingest") {
      tracer.span("ingest") {
        Ingest.ensureDatabase(spark, db)
        graft.plans.Scale.Bucketing.writeBucketed(Tables.load(spark, base, "lineitem"), db,
          "lineitem", "l_orderkey", Pipeline.FactBuckets)
        Seq("orders", "customer", "nation", "region").foreach { t =>
          Ingest.saveAsTable(Tables.load(spark, base, t), db, t)
        }
      }
    }
    rec("ingest_bytes") = du(warehouse.resolve(s"$db.db"))
    phase("calendar") {
      tracer.span("calendar") {
        val orders = spark.table(s"`$db`.`orders`")
        val bounds = orders.agg(date_format(min(col("o_orderdate")), "yyyy-MM-dd"),
          date_format(max(col("o_orderdate")), "yyyy-MM-dd")).first()
        Ingest.saveAsTable(Ingest.calendar(spark, bounds.getString(0), bounds.getString(1)),
          db, "calendar")
        Ingest.captureScalar(spark,
          orders.agg(date_format(max(col("o_orderdate")), "yyyy-MM-dd")),
          "graft.orders.last_date")
      }
    }
    phase("clean") {
      tracer.span("clean") {
        Clean.rewriteTable(spark, db, "orders",
          bucket = Some(("o_orderkey", Pipeline.FactBuckets)))(_.where(col("o_totalprice") > 0))
      }
    }
    // the bucketed rewrite swaps a freshly written table into place
    rec("clean_bytes") = du(warehouse.resolve(s"$db.db").resolve("orders"))
  }

  // ---- layer calls ---------------------------------------------------------

  /** Run `body`, recording its wall, the Spark work it triggered and the
    * artifact builds it executed as one phase entry. */
  private def phase[A](name: String)(body: => A): A = {
    val (a, m) = timedCall(name)(body)
    phases += m
    a
  }

  private def timedCall[A](name: String)(body: => A): (A, Map[String, Any]) = {
    drain()
    val c0 = probe.counters
    val b0 = Artifacts.buildCount
    val e0 = tracer.now()
    val a = body
    val e1 = tracer.now()
    drain()
    val c = probe.counters - c0
    (a, Map("name" -> name, "start" -> e0, "end" -> e1, "wall_s" -> (e1 - e0),
      "no_job_s" -> probe.noJobSeconds(e0, e1),
      "builds" -> (Artifacts.buildCount - b0)) ++ c.toMap)
  }

  private def buildFamily(fam: String, dir: String, role: String = "build"): Unit = {
    val entry = Families.find(_._1 == fam).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"unknown family $fam"))
    drain(); probe.take()
    val before = artifactTables()
    val (r, m) = timedCall(s"$role:$fam") {
      try { tracer.span("artifacts.build", "family" -> fam) { entry(spark, dir) }; None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val created = artifactTables().diff(before)
    phases += m ++ Map("family" -> fam, "role" -> role, "dir" -> dir,
      "created" -> created.toSeq.sorted,
      "bytes" -> created.toSeq.map(t => du(artifactDb.resolve(t))).sum,
      "error" -> r.orNull)
    probe.take()
  }

  /** One closed-loop request: clear the in-JVM cache, construct the query
    * (`fn(spark, dir)`), plan the consuming frame BenchConsume.consume
    * executes, execute it, and record the Spark work in between. */
  private def runQuery(role: String, pass: Int, name: String, dir: String): Unit = {
    val fn = SparkEntry.queries(name)
    spark.catalog.clearCache()
    drain(); probe.take()
    val before = artifactTables()
    val c0 = probe.counters
    val b0 = Artifacts.buildCount
    var construct, plan, exec = 0.0
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    val cpu0 = threads.getCurrentThreadCpuTime
    var rows, digest = -1L
    var error: String = null
    val start = tracer.now()
    tracer.span("query", "name" -> name, "role" -> role) {
      try {
        val t0 = System.nanoTime()
        val df = tracer.span("ops.construct")(fn(spark, dir))
        val t1 = System.nanoTime()
        val consumed = BenchConsume.consumedFrame(df)
        tracer.span("ops.plan")(consumed.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        val row = tracer.span("ops.exec")(consumed.collect().head)
        val t3 = System.nanoTime()
        construct = (t1 - t0) / 1e9; plan = (t2 - t1) / 1e9; exec = (t3 - t2) / 1e9
        rows = row.getLong(0)
        digest = if (row.isNullAt(1)) 0L else row.getLong(1)
      } catch { case e: Throwable =>
        error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      }
    }
    val end = tracer.now()
    val driverCpu = (threads.getCurrentThreadCpuTime - cpu0) / 1e9
    drain()
    val c = probe.counters - c0
    val scanned = probe.take()
    val created = artifactTables().diff(before)
    queries += Map("role" -> role, "pass" -> pass, "name" -> name,
      "family" -> name.take(1), "start" -> start, "wall_s" -> (end - start),
      "construct_s" -> construct, "plan_s" -> plan, "exec_s" -> exec,
      "driver_cpu_s" -> driverCpu,
      "no_job_s" -> probe.noJobSeconds(start, end),
      "rows" -> rows, "digest" -> digest, "error" -> error,
      "builds" -> (Artifacts.buildCount - b0),
      "created" -> created.toSeq.sorted.map(family),
      "served" -> scanned.filterNot(created).map(family).distinct.sorted) ++ c.toMap
  }

  // ---- observations from outside the engine ------------------------------

  private def drain(): Unit =
    org.apache.spark.graft.ListenerSync.drain(spark.sparkContext)

  private def artifactTables(): Set[String] = DirWatcher.published(artifactDb)

  /** Median wall of five corpus-fingerprint walks: the cost every keyed
    * artifact lookup pays at least once per query. */
  private def fingerprintSeconds(dir: String): Double = {
    val ts = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); Artifacts.corpusFingerprint(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(2)
  }

  private def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  /** Heap still in use after a full collection: what the session keeps
    * live once its work is done (catalog, plans, broadcast and cached
    * blocks). */
  private def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  private def json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(out: Path): Unit = {
    rec("queries") = queries.toList
    rec("phases") = phases.toList
    Files.createDirectories(out.getParent)
    Files.writeString(out, json.writeValueAsString(rec))
    if (trace) {
      val spans = tracer.all.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "query" -> s.query, "start" -> s.start, "end" -> s.end,
        "attrs" -> s.attrs))
      Files.writeString(Paths.get(out.toString.stripSuffix(".json") + ".spans.json"),
        json.writeValueAsString(spans))
    }
  }
}

/** Polls a directory and remembers when each entry first appeared: how
  * the benchmark times the families one refresh call produces without
  * instrumenting the call itself. */
final class DirWatcher(dir: Path, periodMs: Long = 10) {
  private val seen = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val initial = DirWatcher.published(dir)
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      val t = System.currentTimeMillis() / 1e3
      DirWatcher.published(dir).foreach(n => if (!initial(n)) seen.putIfAbsent(n, t))
      Thread.sleep(periodMs)
    }
  }, "sessionbench-dirwatch")
  thread.setDaemon(true)
  thread.start()

  def stop(): Map[String, Double] = {
    running = false
    thread.join()
    val t = System.currentTimeMillis() / 1e3
    DirWatcher.published(dir).foreach(n => if (!initial(n)) seen.putIfAbsent(n, t))
    seen.asScala.toMap
  }
}

object DirWatcher {
  /** Entries of `dir` that are published artifacts: no build staging
    * directories, no lock files; empty while `dir` does not exist. */
  def published(dir: Path): Set[String] =
    try {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => !n.contains("_stage_") && !n.endsWith(".lock")).toSet
      finally s.close()
    } catch { case _: java.io.IOException => Set.empty }
}
