package lifebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.lifebench.Bus
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** JVM side of the lifecycle benchmark (driven by `lifebench/run.py`).
  *
  *   lifebench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  *
  * Set-up builds the session, prepares the workload, runs one untimed
  * warm-up iteration and waits for the JIT compiler to go idle: the first
  * iteration in a JVM pays class loading, code generation and JIT
  * compilation and runs about twice as long as later ones. Then one
  * client runs iterations back to back until `seconds` have passed. With
  * tracing on, measured iterations alternate untraced and traced, so one
  * run yields both the per-layer numbers and the tracing overhead. Every
  * iteration writes under its own directory, which the output checks read
  * afterwards. Results go to `<workDir>/result.json`.
  */
object Main {
  val Cores = 4

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val memBean = ManagementFactory.getMemoryMXBean
  private val jitBean = ManagementFactory.getCompilationMXBean

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Waits until the JIT compiler is idle (under a tenth of a core over a
    * quarter second), at most `maxS` seconds. Compilations the warm-up
    * queued would otherwise compete with the first timed iteration.
    */
  private def settleJit(maxS: Double): Double = {
    val t0 = System.nanoTime()
    var before = jitBean.getTotalCompilationTime
    var idle = false
    while (!idle && secs(t0) < maxS) {
      Thread.sleep(250)
      val now = jitBean.getTotalCompilationTime
      idle = now - before < 25
      before = now
    }
    secs(t0)
  }

  def main(args: Array[String]): Unit = {
    val Array(name, in, work, seconds, trace) = args
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val wl = Workload(name, in)
    val t0 = System.nanoTime()
    val spark = GraftSession.build(s"local[$Cores]", Cores)
    val sessionS = secs(t0)
    val sc = spark.sparkContext
    val tally = new ShuffleTally
    sc.addSparkListener(tally)

    def iterate(label: String, traced: Boolean): Map[String, Any] = {
      wl.beforeIteration()
      val out = s"$work/$label"
      val probe = new Probe
      if (traced) {
        Bus.drain(sc)
        sc.addSparkListener(probe)
        Trace.start(sc, Trace.iter + 1)
      }
      val client = new Client
      def retainedMb = sc.statusTracker.getExecutorInfos
        .map(e => e.usedOnHeapStorageMemory + e.usedOffHeapStorageMemory)
        .sum / 1048576.0
      if (traced) client.afterOp = () => retainedMb
      val shuffle0 = tally.shuffleWriteBytes
      val cpu0 = cpuBean.getProcessCpuTime
      val jit0 = jitBean.getTotalCompilationTime
      val t0 = System.nanoTime()
      val wall = Trace.span("iteration", "bench") {
        wl.iteration(spark, out, client)
        secs(t0)
      }
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      Bus.drain(sc)
      val traceRec = if (traced) {
        Trace.stop()
        sc.removeSparkListener(probe)
        Some(traceJson(probe, Trace.iter) +
          ("retained_mb_steps" -> client.afterOpSamples))
      } else None
      val retained = retainedMb
      // the second collection frees what the context cleaner released
      // after the first: blocks of datasets the iteration dropped
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heap = memBean.getHeapMemoryUsage.getUsed
      Map("label" -> label, "dir" -> out, "traced" -> traced,
        "wall_s" -> wall, "cpu_s" -> cpu,
        "jit_s" -> (jitBean.getTotalCompilationTime - jit0) / 1e3,
        "retained_mb" -> retained, "heap_mb" -> heap / 1048576.0,
        "shuffle_write_bytes" -> (tally.shuffleWriteBytes - shuffle0),
        "ops" -> client.ops.map(o => Map("name" -> o.name, "layer" -> o.layer,
          "ms" -> o.ms, "ok" -> o.ok, "error" -> o.error)),
        "facts" -> client.facts.toMap) ++
        traceRec.map(t => Map("trace" -> t)).getOrElse(Map.empty)
    }

    try {
      val t1 = System.nanoTime()
      val prepare = wl.prepare(spark)
      val prepareS = secs(t1)
      val t2 = System.nanoTime()
      val warm = iterate("warm", traced = false)
      val warmS = secs(t2)
      val settleS = settleJit(maxS = 10)
      val tracing = trace == "1"
      val iters = mutable.ArrayBuffer[Map[String, Any]]()
      val t3 = System.nanoTime()
      var k = 0
      // traced runs measure an untraced and a traced iteration at least,
      // so the overhead compares a traced iteration with its neighbour
      while (secs(t3) < seconds.toDouble || (tracing && k < 2) || k < 1) {
        k += 1
        iters += iterate(s"iter$k", traced = tracing && k % 2 == 0)
      }
      val result = Map("workload" -> name, "cores" -> Cores,
        "boot_s" -> bootS, "session_build_s" -> sessionS,
        "prepare_s" -> prepareS, "prepare" -> prepare, "warmup_s" -> warmS,
        "jit_settle_s" -> settleS,
        "warm" -> warm, "iterations" -> iters, "measured_s" -> secs(t3),
        "oracle_sql" -> graft.SparkEntry.oracleSql)
      Files.writeString(Paths.get(s"$work/result.json"), Json(result))
    } finally spark.stop()
  }

  private def traceJson(p: Probe, iter: Int): Map[String, Any] = p.synchronized {
    Map(
      "spans" -> Trace.spans.filter(_.iter == iter).map(s => Map(
        "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "iter" -> s.iter, "start" -> s.start,
        "end" -> s.end)),
      "jobs" -> p.jobs.map(j => Map("id" -> j.id, "span" -> j.span,
        "exec" -> j.exec, "start" -> j.start, "end" -> j.end)),
      "stages" -> p.stages.toSeq.sortBy(_._1).map { case (id, a) =>
        val (span, exec) = p.stageSpan.getOrElse(id, (0L, -1L))
        Map("id" -> id, "span" -> span, "exec" -> exec,
          "job" -> p.stageJob.getOrElse(id, -1), "tasks" -> a.tasks,
          "empty_tasks" -> a.emptyTasks, "cpu_ns" -> a.cpuNs,
          "run_ms" -> a.runMs, "max_run_ms" -> a.maxRunMs, "gc_ms" -> a.gcMs,
          "shuffle_read" -> a.shuffleRead, "shuffle_write" -> a.shuffleWrite,
          "spill" -> a.spill, "records_out" -> a.recordsOut)
      },
      "execs" -> p.execs.values.toSeq.sortBy(_.id).map(e => Map(
        "id" -> e.id, "start" -> e.start, "end" -> e.end, "path" -> e.path,
        "exchanges" -> e.exchanges)))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
