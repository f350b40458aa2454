package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{ConfigLoader, Enrichment, EtlJob, Pipeline, Selectors, SessionFactory, Transforms}

/** The benchmark's JVM side. It calls only public entry points of the
  * program: `SessionFactory`, `ConfigLoader`, `EtlJob` and the stage
  * functions of `graft.etl`, and `SparkEntry.queries` for catalog rows.
  *
  * Usage: Harness <mode> <work dir> <seconds> <trace 0|1> <result json>
  *                <logs data dir> <tables data dir>
  *   mode: etl_daily | graph_dedup
  * The data dirs hold the inputs written by the benchmark's generators.
  */
object Harness {
  val GraphRows: Seq[String] = Seq(
    "x_pagerank", "x_ppr", "x_label_prop", "x_ktruss", "x_kcore_fixpoint", "x_bfs_hops")
  val DedupRows: Seq[String] = Seq(
    "x_dedup_semantic", "x_dedup_incremental_neardup_persisted", "x_bloom_join")
  val CatalogRows: Seq[String] = GraphRows ++ DedupRows
  /** face name -> the first catalog row that consumes it */
  val Faces: Seq[(String, String)] = Seq(
    "purchasegraph" -> "x_pagerank", "graphface" -> "x_label_prop",
    "semcents" -> "x_dedup_semantic", "ndindex" -> "x_dedup_incremental_neardup_persisted")

  private val cpuBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = cpuBean.getProcessCpuTime
  /** Collector and JIT compiler time so far, for the run record. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  def main(args: Array[String]): Unit = {
    val Array(mode, workArg, secondsArg, traceArg, outArg, logsArg, tablesArg) = args
    val work = new File(workArg).getCanonicalPath
    val spark = SessionFactory.build("perfbench", master = Some("local[4]"), extra = Map(
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true"))
    val readyMs = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("ERROR")
    val result = mutable.LinkedHashMap[String, Any]("ready_ms" -> readyMs)
    try {
      new Harness(spark, work, logsArg, tablesArg, secondsArg.toDouble, traceArg == "1", mode).run(result)
    } catch {
      case t: Throwable =>
        result("error") = s"${t.getClass.getName}: ${t.getMessage}"
        t.printStackTrace()
    } finally {
      result("vmhwm_kb") = vmHwmKb()
      Files.write(Paths.get(outArg), Json.render(result).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { f =>
      val dst = to.resolve(from.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  def dirBytes(p: Path): (Long, Long) = {
    val walk = Files.walk(p)
    try {
      val files = walk.filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-")).toArray
      (files.length.toLong, files.map(f => Files.size(f.asInstanceOf[Path])).sum)
    } finally walk.close()
  }
}

final class Harness(spark: SparkSession, work: String, logsData: String, tablesData: String,
                    seconds: Double, trace: Boolean, mode: String) {
  import Harness._
  private lazy val configTemplate =
    new String(Files.readAllBytes(Paths.get(logsData, "etl_config.json")), StandardCharsets.UTF_8)
  private lazy val queries = graft.SparkEntry.queries
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextSpan = 0
  private var iterSeq = 0
  private val failures = mutable.ArrayBuffer[String]()
  private var attempted = 0L

  private def span[T](name: String, parent: Int)(body: Int => T): T = {
    nextSpan += 1
    val id = nextSpan
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      spans += Span(id, parent, name, t0, t1)
      System.err.println(f"[span] $name%s ${(t1 - t0) / 1e9}%.3f s")
    }
  }

  private def fresh(tag: String): String = { iterSeq += 1; s"$work/iter/$tag-$iterSeq" }

  private def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  // ------------------------------------------------------------ etl_daily

  /** Loads the category dim into embedded Derby before anything is timed. */
  private def loadDim(): Unit = span("etl.dim_load", 0) { _ =>
    val db = ConfigLoader.fromString(configTemplate).loadDb.get
    val cols = graft.etl.Schemas.category.fieldNames
    val conn = java.sql.DriverManager.getConnection(db.url)
    try {
      conn.createStatement().executeUpdate(
        s"CREATE TABLE ${db.table} (${cols.map(c => s"$c VARCHAR(200)").mkString(", ")})")
      val imp = conn.prepareCall("CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, ?, ?, ',', '\"', 'UTF-8', 0)")
      imp.setString(1, db.table)
      imp.setString(2, s"$logsData/dim.csv")
      imp.execute()
    } finally conn.close()
  }

  private def etlConfig(out: String) = ConfigLoader.fromString(configTemplate.replace("@OUT@", out))

  /** One deployed run of the job: config parse, extract, C1-C13, load;
    * then, untimed, the row count it wrote. */
  private def etlIteration(parent: Int): Map[String, Any] = {
    val out = fresh("etl-out")
    val (g0, j0, k0, c0) = (gcMs(), jitMs(), codegenCompiles(), cpuNs())
    val t0 = System.nanoTime()
    span("etl.job", parent) { _ => new EtlJob(spark, etlConfig(out)).run() }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNs() - c0) / 1e9
    Map("wall_s" -> wall, "cpu_s" -> cpu, "gc_s" -> (gcMs() - g0) / 1e3, "jit_s" -> (jitMs() - j0) / 1e3,
      "codegen_compiles" -> (codegenCompiles() - k0), "rows" -> spark.read.parquet(out).count(), "out" -> out)
  }

  // ------------------------------------------------------------ catalog legs

  /** Untimed: a few small queries through the scan, aggregate, join,
    * window and write paths, so that the first catalog row does not pay
    * the engine's one-time start-up. */
  private def engineWarmup(parent: Int): Unit = span("engine.warmup", parent) { _ =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val dir = fresh("engine-warmup")
    spark.range(20000).select(col("id"), (col("id") % 97).as("k"), (col("id") * 31 % 1000).as("v"))
      .write.parquet(s"$dir/a")
    val a = spark.read.parquet(s"$dir/a")
    a.join(a.groupBy("k").agg(sum("v").as("s")), "k")
      .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("v")))
      .filter(col("rn") < 5).write.parquet(s"$dir/b")
    deleteTree(Paths.get(dir))
  }

  /** Runs a catalog row and commits its result as parquet under `out`. */
  private def commit(row: String, tables: String, out: String): Unit =
    queries(row)(spark, tables).write.parquet(out)

  /** Every row of the leg once, on a fresh copy of the tables so that no
    * face or index built by an earlier iteration is reused. */
  private def catalogIteration(leg: String, parent: Int): Map[String, Any] = {
    val dir = fresh(leg)
    val outputs = fresh(s"$leg-out")
    copyTree(Paths.get(tablesData), Paths.get(dir))
    val (g0, j0, c0) = (gcMs(), jitMs(), cpuNs())
    val t0 = System.nanoTime()
    span(s"$leg.iteration", parent) { id =>
      CatalogRows.foreach(r => span(r, id)(_ => commit(r, dir, s"$outputs/$r")))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Map("wall_s" -> wall, "cpu_s" -> (cpuNs() - c0) / 1e9, "gc_s" -> (gcMs() - g0) / 1e3,
      "jit_s" -> (jitMs() - j0) / 1e3, "outputs" -> outputs, "dir" -> dir)
  }

  // ------------------------------------------------------------ closed loop

  private def iteration(leg: String, parent: Int): Map[String, Any] =
    if (leg == "etl_daily") etlIteration(parent) else catalogIteration(leg, parent)

  /** Untimed, before each measured pass: a full collection, a pause for
    * Spark's cleaner to drop what the last pass left (broadcasts, shuffle
    * files), and another collection, so that every pass starts from the
    * same heap state rather than paying for its predecessors' garbage. */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
  }

  private def minPasses(leg: String): Int = if (leg == "etl_daily") 2 else 1

  private def cleanup(it: Map[String, Any]): Unit =
    Seq("out", "dir").flatMap(it.get).foreach(p => deleteTree(Paths.get(p.toString)))

  /** Runs passes back to back until `seconds` have passed and at least
    * `minPasses(leg)` have run; the run reports their median. A pass is
    * one ETL job or one pass over the catalog rows, and each starts after
    * `settle`. The ETL job is measured warm, after an untimed first job:
    * the first job's code generation varied by a quarter from run to run.
    * A catalog pass, on fresh tables, is measured after a few warm-up
    * queries take the engine's one-time start-up; the first pass includes
    * its rows' own code generation, as in a freshly started job, the
    * second finds it compiled. Returns the measured passes; a failed one
    * is recorded as such. */
  private def loop(leg: String): Seq[Map[String, Any]] = {
    val root = 0
    if (leg == "etl_daily") {
      loadDim()
      cleanup(span("etl_daily.warmup", root)(iteration(leg, _)))
    } else engineWarmup(root)
    val its = mutable.ArrayBuffer[Map[String, Any]]()
    val start = System.nanoTime()
    while (its.size < minPasses(leg) || (System.nanoTime() - start) / 1e9 < seconds) {
      attempted += (if (leg == "etl_daily") 1 else CatalogRows.size)
      settle()
      val it = try iteration(leg, root) catch {
        case t: Throwable =>
          failures += s"$leg iteration: ${t.getClass.getName}: ${t.getMessage}"
          Map[String, Any]("failed" -> true)
      }
      if (!it.contains("failed")) its.lastOption.foreach(cleanup)
      its += it
    }
    its.toSeq
  }

  // ------------------------------------------------------------ traced passes

  private lazy val probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** Runs `body` as one traced call under job group `group`. */
  private def traced[T](group: String, parent: Int)(body: => T): (T, Double, GroupStats) = {
    val sc = spark.sparkContext
    org.apache.spark.perfbench.Drain(sc)
    probe.current = group
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    val v = try span(group, parent)(_ => body) finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.perfbench.Drain(sc)
    probe.current = "none"
    (v, wall, probe.stats(group))
  }

  /** Stage-by-stage split of the job by prefix materialization, then
    * one traced run of the whole deployed job. */
  private def tracedEtl(parent: Int): Map[String, Any] = {
    val cfg = etlConfig(fresh("etl-traced"))
    val (logs, cats) = new EtlJob(spark, cfg).extract()
    val types = cfg.types
    val zone = cfg.timezone
    val preC12 = Pipeline.preJoin(logs, types, zone).transform(Transforms.selectValidId)
    val (nLogs, extractS, _) = traced("etl.extract", parent)(materialize(logs))
    val (_, dimS, _) = traced("etl.extract.dim", parent)(materialize(cats))
    val (nSel, selS, _) = traced("etl.select", parent)(materialize(Selectors.selectAll(logs, types)))
    val (nTr, trS, _) = traced("etl.transform", parent)(materialize(preC12))
    val enriched = Enrichment.joinWithCategories(preC12, cats)
    val (nEn, enS, _) = traced("etl.enrich", parent)(materialize(enriched))
    val (nDd, ddS, ddG) = traced("etl.dedup", parent)(
      materialize(Pipeline.transformData(logs, cats, types, zone)))
    val logins = preC12.filter(org.apache.spark.sql.functions.col("logtype") === "login").count()
    val out = cfg.savePath
    val (_, jobS, jobG) = traced("etl.job", parent)(new EtlJob(spark, cfg).run())
    val (files, bytes) = dirBytes(Paths.get(out))
    val writePlans = jobG.plans.map(_.executedPlan)
    val scans = writePlans.flatMap(p => Plans.scansOf(p, s"$logsData/logs"))
    val scanRows = scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    val commitMs = writePlans.flatMap(p => Plans.metric(p, "jobCommitTime")).headOption.getOrElse(-1L)
    deleteTree(Paths.get(out))
    Map(
      "etl.extract.s" -> extractS, "etl.extract.rows" -> nLogs,
      "etl.extract.bytes" -> dirBytes(Paths.get(cfg.loadPath))._2, "etl.extract.dim_s" -> dimS,
      "etl.select.s" -> (selS - extractS), "etl.select.rows" -> nSel,
      "etl.transform.s" -> (trS - selS), "etl.transform.rows" -> nTr,
      "etl.enrich.s" -> (enS - trS), "etl.enrich.rows" -> nEn,
      "etl.enrich.match_ratio" -> (nEn - logins).toDouble / math.max(nTr - logins, 1L).toDouble,
      "etl.dedup.s" -> (ddS - enS), "etl.dedup.rows" -> nDd,
      "etl.dedup.kept_ratio" -> nDd.toDouble / math.max(nEn, 1L).toDouble,
      "etl.dedup.shuffle_bytes" -> ddG.shuffleWriteBytes,
      "etl.load.s" -> (jobS - ddS), "etl.load.files" -> files, "etl.load.bytes" -> bytes,
      "etl.load.commit_s" -> commitMs / 1e3,
      "etl.scan_count" -> scans.size,
      "etl.read_amplification" -> scanRows.toDouble / math.max(nLogs, 1L).toDouble,
      "traced_wall_s" -> jobS,
      "engine" -> jobG.toMap)
  }

  /** Each row twice on fresh tables: the first call builds the faces it
    * needs, the second reuses them. Both outputs are kept for the checks. */
  private def tracedCatalog(parent: Int): Map[String, Any] = {
    val dir = fresh("graph_dedup-traced")
    val out = fresh("graph_dedup-traced-out")
    copyTree(Paths.get(tablesData), Paths.get(dir))
    val engine = new GroupStats
    val m = mutable.LinkedHashMap[String, Any]()
    CatalogRows.foreach { r =>
      attempted += 2
      val (_, cold, g) = traced(s"$r.cold", parent)(commit(r, dir, s"$out/cold/$r"))
      val (_, warm, _) = traced(s"$r.warm", parent)(commit(r, dir, s"$out/warm/$r"))
      engine.add(g)
      m(s"$r.s") = cold
      m(s"$r.warm_s") = warm
      m(s"$r.jobs") = g.jobs
      m(s"$r.result_bytes") = g.resultBytes
    }
    Faces.foreach { case (face, row) =>
      m(s"face.$face.s") = m(s"$row.s").asInstanceOf[Double] - m(s"$row.warm_s").asInstanceOf[Double]
    }
    deleteTree(Paths.get(dir))
    m("engine") = engine.toMap
    m("outputs") = Seq(s"$out/cold", s"$out/warm")
    m.toMap
  }

  /** Untraced: the measured passes of the requested workload. Traced:
    * every layer of both legs, whichever workload is named, so that each
    * traced run reports every per-layer metric. */
  def run(result: mutable.LinkedHashMap[String, Any]): Unit = {
    val etlRuns = mutable.ArrayBuffer[Map[String, Any]]()
    val catalogOutputs = mutable.ArrayBuffer[String]()
    if (!trace) {
      val its = loop(mode)
      result("iterations") = its.map(_.filter { case (k, _) => k != "out" && k != "dir" })
      if (mode == "etl_daily") etlRuns ++= its
      else catalogOutputs ++= its.flatMap(_.get("outputs")).map(_.toString)
    } else {
      // the first job compiles the ETL plan's code; the second is the
      // untraced reference for the tracing overhead
      loadDim()
      etlRuns += iteration("etl_daily", 0)
      val untraced = iteration("etl_daily", 0)
      etlRuns += untraced
      attempted += 3
      val etl = span("etl_daily.traced", 0)(tracedEtl)
      val catalog = span("graph_dedup.traced", 0)(tracedCatalog)
      catalogOutputs ++= catalog("outputs").asInstanceOf[Seq[String]]
      result("traced") = Map("etl_daily" -> etl, "graph_dedup" -> (catalog - "outputs"))
      result("trace_overhead_s") = etl("traced_wall_s").asInstanceOf[Double] - untraced("wall_s").asInstanceOf[Double]
      result("spans") = spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq
    }
    result("etl_runs") = etlRuns.filter(_.contains("rows")).map(_.filter { case (k, _) => k != "dir" })
    if (catalogOutputs.nonEmpty) {
      result("catalog_outputs") = catalogOutputs.toSeq
      result("oracle_sql") = graft.SparkEntry.oracleSql.filter(kv => CatalogRows.contains(kv._1))
    }
    result("attempted") = attempted
    result("failures") = failures.toSeq
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
