package graftbench

import java.io.{File, FileWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import scala.jdk.CollectionConverters._

import graft.infra.Caches
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Stage-by-stage pipeline benchmark: one process, one SparkSession, the
  * workload's stages called through graft's public operator functions in
  * order, every stage output fully materialized, nothing carried between
  * passes.
  *
  * {{{
  * PipelineBench --workload W --data DIR --work DIR --cores N --seconds S --trace 0|1
  * }}}
  *
  * Prints `READY` once the session is up (the caller times process start to
  * that line). It then makes one cold pass and warm passes until `seconds`
  * have gone by, at least [[MinPasses]] of them (with `--trace 1`, four or
  * more, traced and untraced in ABBA order). Every timed pass uses the same
  * sinks. Last comes an untimed gate pass (see [[gatePass]]). Each pass is
  * appended to WORK/passes.jsonl when it ends. The run record (config, peak
  * RSS, oracle SQL) follows the timed passes, and `TIMED` is printed with it;
  * `DONE` is printed once the gate pass is written. */
object PipelineBench {

  /** Warm passes a run makes at least, whatever `seconds` says. */
  val MinPasses = 2

  private def opt(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val cores = opt(args, "cores").toInt
    val work = new File(opt(args, "work")).getCanonicalFile
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println("READY")
    System.out.flush()
    try run(spark, args, cores, work)
    finally spark.stop()
  }

  private def run(spark: SparkSession, args: Array[String], cores: Int, work: File): Unit = {
    val workload = opt(args, "workload")
    val dataDir = new File(opt(args, "data")).getCanonicalPath
    val seconds = opt(args, "seconds").toDouble
    val traced = opt(args, "trace") == "1"
    val stages = Workloads(workload)
    val passDir = new File(work, "pass").getPath
    val tracer = new Tracer(spark, Seq(dataDir, passDir))
    val ctx = new Ctx(spark, dataDir, passDir)
    val log = new FileWriter(new File(work, "passes.jsonl"), true)
    def emit(line: String): Unit = { log.write(line); log.write("\n"); log.flush() }

    def pass(kind: String, trace: Boolean = false): Unit = {
      emit(runPass(spark, stages, ctx, kind, trace, tracer))
      System.gc()
    }

    pass("cold")
    val start = System.nanoTime
    var n = 0
    // a traced run orders its passes traced, warm, warm, traced (ABBA), so
    // the warm-up that still speeds up later passes does not bias the
    // tracing overhead
    while (n < (if (traced) 4 else MinPasses) || (System.nanoTime - start) / 1e9 < seconds) {
      val t = traced && n % 4 % 3 == 0
      pass(if (t) "traced" else "warm", t)
      n += 1
    }
    emit(Json.obj(
      "kind" -> "run",
      "workload" -> workload,
      "peak_rss_mb" -> procStatusKb("VmHWM") / 1024.0,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "cores" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "master" -> spark.sparkContext.master,
      "spark" -> spark.version,
      "java" -> System.getProperty("java.version"),
      "oracles" -> Json.Raw(Json.obj(stages.flatMap(st => st.oracle.map(q =>
        st.key -> Json.Raw(Json.obj("name" -> q, "sql" -> graft.SparkEntry.oracleSql(q))))): _*))))
    // the caller may start on the oracles while the gate pass runs
    println("TIMED")
    System.out.flush()
    emit(gatePass(spark, stages, ctx, tracer))
    log.close()
    println("DONE")
    System.out.flush()
  }

  /** One timed pass over the workload's stages; returns its JSONL record.
    * The pass's wall time runs from clearing the output directory to the end
    * of the last hygiene check, so the stage spans need not cover all of it. */
  private def runPass(spark: SparkSession, stages: Seq[Stage], ctx: Ctx, kind: String,
                      trace: Boolean, tracer: Tracer): String = {
    val sc = spark.sparkContext
    tracer.drain()
    tracer.resetPass()
    tracer.actions.clear()
    tracer.active = trace
    val gcBefore = gcMillis()
    val passStart = System.nanoTime
    deleteTree(Paths.get(ctx.outDir))
    val records = stages.map { st =>
      sc.setLocalProperty(Tracer.StageProp, st.key)
      val startMs = System.currentTimeMillis
      val t0 = System.nanoTime
      var rows = if (trace) 0L else -1L
      val error = try {
        st.outputs(ctx).foreach { case (name, df) =>
          val obs = if (trace) Some(Observation(name)) else None
          val out = obs.fold(df)(o => df.observe(o, count(lit(1)).as("rows")))
          if (st.persist) out.write.mode("overwrite").parquet(s"${ctx.outDir}/$name")
          else out.write.format("noop").mode("overwrite").save()
          obs.foreach(o => rows += o.get("rows").asInstanceOf[Long])
        }
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally {
        Caches.unpersistManaged()
        sc.setLocalProperty(Tracer.StageProp, null)
      }
      val wallNs = System.nanoTime - t0
      val endMs = System.currentTimeMillis
      tracer.drain()
      val acts = tracer.actions.asScala.toList
      tracer.actions.clear()
      if (error.isEmpty && !acts.lastOption.exists(Tracer.WriteActions))
        tracer.violations.add(s"${st.key}: last action ${acts.lastOption.getOrElse("none")} is not a write")
      val c = tracer.counter(st.key)
      val spans = c.jobSpans.asScala.toSeq
      val planMs = math.max(0L, (endMs - startMs) - Tracer.coveredMs(spans, startMs, endMs))
      Json.obj(
        "stage" -> st.key,
        "wall_s" -> wallNs / 1e9,
        "plan_s" -> (if (trace) planMs / 1e3 else null),
        "task_s" -> c.taskMs / 1e3,
        "shuffle_bytes" -> c.shuffleBytes,
        "spill_bytes" -> c.spillBytes,
        "rows_out" -> rows,
        "jobs" -> c.jobs,
        "error" -> error.orNull)
    }
    tracer.active = false
    // hygiene: nothing may survive the pass
    val problems = tracer.violations.asScala.toList ++ leftovers(spark)
    tracer.violations.clear()
    val wallS = (System.nanoTime - passStart) / 1e9
    val gcS = (gcMillis() - gcBefore) / 1e3
    Json.obj(
      "kind" -> kind,
      "wall_s" -> wallS,
      "gc_s" -> gcS,
      "sink_bytes" -> treeBytes(Paths.get(ctx.outDir)),
      "violations" -> problems,
      "stages" -> records.map(Json.Raw))
  }

  /** The untimed gate pass: each oracle-checked stage that a timed pass sends
    * to `noop` runs again over the last pass's persisted outputs and is
    * written as parquet for the oracle gate. The stages read only persisted
    * outputs and inputs, so they run concurrently. The gate reads every
    * output back, so a stage that wrote nothing fails its check there. */
  private def gatePass(spark: SparkSession, stages: Seq[Stage], ctx: Ctx,
                       tracer: Tracer): String = {
    val todo = stages.filter(st => !st.persist && st.oracle.isDefined)
    val pool = Executors.newFixedThreadPool(math.max(1, todo.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val start = System.nanoTime
    val records = try {
      val calls = todo.map(st => Future {
        val t0 = System.nanoTime
        val error = try {
          st.outputs(ctx).foreach { case (name, df) =>
            df.write.mode("overwrite").parquet(s"${ctx.outDir}/$name")
          }
          None
        } catch {
          case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        Json.obj("stage" -> st.key, "wall_s" -> (System.nanoTime - t0) / 1e9, "error" -> error.orNull)
      })
      Await.result(Future.sequence(calls), Duration.Inf)
    } finally pool.shutdown()
    Caches.unpersistManaged()
    tracer.drain()
    tracer.actions.clear()
    val problems = tracer.violations.asScala.toList ++ leftovers(spark)
    tracer.violations.clear()
    Json.obj(
      "kind" -> "gate",
      "wall_s" -> (System.nanoTime - start) / 1e9,
      "violations" -> problems,
      "stages" -> records.map(Json.Raw))
  }

  /** Caches and staging registries that would carry work between passes. */
  private def leftovers(spark: SparkSession): Seq[String] = {
    val managed = if (Caches.managedCount != 0) Seq(s"Caches.managedCount=${Caches.managedCount}") else Nil
    val cached = if (!spark.sharedState.cacheManager.isEmpty) Seq("CacheManager holds entries") else Nil
    val registries = Registries.nonEmpty.map(r => s"staging registry in use: $r")
    val tables = spark.catalog.listTables().collect().map(_.name).toSeq.map(t => s"catalog table: $t")
    managed ++ cached ++ registries ++ tables
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def procStatusKb(field: String): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(field + ":")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .map(Files.size).sum
      finally s.close()
    }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally s.close()
    }
}

/** The process-global staging registries of graft's operators and of
  * SparkEntry: a non-empty one means a stage read or wrote a staged
  * artifact. */
object Registries {
  private val fields: Seq[(String, String)] = Seq(
    "graft.infra.Staging$" -> "stagedOnce",
    "graft.SparkEntry$" -> "bionlpStage",
    "graft.SparkEntry$" -> "orcStage",
    "graft.SparkEntry$" -> "conlluStage",
    "graft.SparkEntry$" -> "tsvStage",
    "graft.SparkEntry$" -> "jsonlStage",
    "graft.operators.Dedup$" -> "bandIndexStaged",
    "graft.operators.Dedup$" -> "hashedSetsStaged",
    "graft.operators.Dedup$" -> "clustersStaged",
    "graft.operators.Dedup$" -> "trainShingleStaged",
    "graft.operators.Cooccurrence$" -> "unitsBucketed",
    "graft.operators.TextStats$" -> "winsorStaged")

  /** Names of the registries that hold entries; a registry that no longer
    * exists under its name is skipped. */
  def nonEmpty: Seq[String] = fields.flatMap { case (cls, field) =>
    try {
      val c = Class.forName(cls)
      val module = c.getField("MODULE$").get(null)
      c.getDeclaredFields.find(_.getName.endsWith(field)).flatMap { f =>
        f.setAccessible(true)
        f.get(module) match {
          case m: scala.collection.Map[_, _] if m.nonEmpty => Some(s"$cls$field")
          case s: scala.collection.Set[_] if s.nonEmpty => Some(s"$cls$field")
          case _ => None
        }
      }
    } catch { case _: ReflectiveOperationException => None }
  }
}

/** Just enough JSON for the pass records. */
object Json {
  final case class Raw(json: String)

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
