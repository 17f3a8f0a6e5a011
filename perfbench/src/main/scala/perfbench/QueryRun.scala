package perfbench

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

import graft.ops.CacheRegistry

/** Passes over a query list in a fresh JVM. Every query is built through
  * `SparkEntry.queries` and consumed in full by a `noop` write of all its
  * columns.
  *
  * The first pass is cold (class loading, JIT, codegen): it is reported,
  * not gated. The timed passes follow for `seconds` (at least
  * `MinPasses`); a query's figure is its best timed pass, like
  * `graft.Bench`'s warm min-of-2. Pass times still fall from pass to pass
  * as the JIT compiles more of the hot paths, so the best pass is mostly
  * the last. A last, untimed pass checks the results.
  *
  * Every pass starts from an empty `CacheRegistry` and table cache, so it
  * rebuilds what the program caches. The cold and timed writes carry only a
  * row count, the same plan in every pass, so the timed passes reuse the
  * code the cold pass generated; the check pass's write carries the full
  * result fingerprint, whose work so stays out of every timed figure. */
object QueryRun {
  val MinPasses = 3

  final case class Result(name: String, ok: Boolean, wallMs: Double, buildMs: Double,
      fp: String, error: String)

  def run(a: Args): Map[String, Any] = {
    val n = Host.nproc
    // set-up: session built as graft.Bench builds it, its executor/JIT
    // bring-up query, query registry loaded
    val spark = Host.querySession(n)
    Host.refuseOverrides(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    val queries = graft.SparkEntry.queries
    val setupCold = (System.currentTimeMillis() - a.spawnMs) / 1e3

    val order = Inputs.queryOrder(a.names, a.seed)
    val layers = new Layers(spark)
    val spans = new Spans

    var cachePeak = 0
    var storagePeakB = 0L
    var growth = 0
    def storageB(): Long = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    var buildMs = 0.0
    var fpSeq = 0

    /** One pass over the list; `kind` is "cold", "timed" or "check", and
      * only timed passes feed the per-layer figures. */
    def pass(kind: String, runSpan: Int): Seq[Result] = {
      CacheRegistry.clear(spark)
      val timed = kind == "timed"
      val (buildScope, execScope) = if (timed) ("build", "exec") else (s"$kind.build", s"$kind.exec")
      order.map { name =>
        val cacheBefore = CacheRegistry.size(spark)
        val seen = layers.executions.size
        val q0 = spans.nowMs
        layers.setScope(buildScope)
        val built: Either[Throwable, DataFrame] =
          try Right(queries(name)(spark, a.dataDir)) catch { case NonFatal(e) => Left(e) }
        val q1 = spans.nowMs
        layers.setScope(execScope)
        // the consuming write carries the check (the fingerprint in the
        // check pass, else the row count); waiting for its delivery on the
        // listener bus is not part of the query's time
        val written: Either[Throwable, Observation] = built.flatMap { df =>
          try {
            fpSeq += 1
            val obs = new Observation(s"perfbench_fp_$fpSeq")
            val observed =
              if (kind == "check") {
                val (renamed, cnt, rest) = Fingerprint.prepare(df)
                renamed.observe(obs, cnt, rest: _*)
              } else df.observe(obs, count(lit(1)).as("n"))
            observed.write.format("noop").mode("overwrite").save()
            Right(obs)
          } catch { case NonFatal(e) => Left(e) }
        }
        val q2 = spans.nowMs
        val done: Either[Throwable, String] = written.flatMap { obs =>
          try {
            val r = Await.result(obs.future, 120.seconds)
            Right(if (kind == "check") Fingerprint.render(r.getLong(0), r.getLong(1), r.getLong(2))
              else r.getLong(0).toString)
          } catch { case NonFatal(e) => Left(e) }
        }
        layers.setScope("between")
        if (timed) {
          val cacheAfter = CacheRegistry.size(spark)
          cachePeak = math.max(cachePeak, cacheAfter)
          if (cacheAfter > cacheBefore) growth += 1
          buildMs += q1 - q0
        }
        if (timed && a.traced) {
          storagePeakB = math.max(storagePeakB, storageB())
          layers.drain()
          // the consuming write is the last execution this query finished
          val plan = layers.executions.asScala.drop(seen).lastOption.map { ph =>
            ph.getOrElse("optimization", 0L) + ph.getOrElse("planning", 0L) }.getOrElse(0L).toDouble
          val qid = spans.add(runSpan, "query", q0, q2)
          spans.add(qid, "build", q0, q1)
          val planEnd = math.min(q2, q1 + plan)
          spans.add(qid, "plan", q1, planEnd)
          spans.add(qid, "exec", planEnd, q2)
        }
        Result(name, done.isRight, q2 - q0, q1 - q0, done.getOrElse(""),
          done.left.toOption.map(e => String.valueOf(e.getMessage).take(300)).getOrElse(""))
      }
    }

    // ---- cold pass
    val cc0 = Host.cpuNs()
    val ct0 = System.nanoTime()
    val cold = pass("cold", 0)
    val coldS = (System.nanoTime() - ct0) / 1e9
    val coldCpuS = (Host.cpuNs() - cc0) / 1e9

    // ---- timed passes, between two host-load probes
    layers.setScope("calib")
    val calibPre = Host.calibrate(spark)
    layers.drain()
    val exec0 = layers.executions.size
    val runSpan = spans.add(0, "run", spans.nowMs, Double.NaN)
    val t0 = System.nanoTime()
    val passes = Vector.newBuilder[(Seq[Result], Double, Double)]
    var done = 0
    while (done < MinPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val c0 = Host.cpuNs()
      val p0 = System.nanoTime()
      val rs = pass("timed", runSpan)
      passes += ((rs, (System.nanoTime() - p0) / 1e9, (Host.cpuNs() - c0) / 1e9))
      done += 1
    }
    spans.end(runSpan, spans.nowMs)
    layers.drain()
    val exec1 = layers.executions.size
    layers.setScope("calib")
    val calibPost = Host.calibrate(spark)
    val check = pass("check", 0)

    val np = done.toDouble
    val traced: Map[String, Any] = if (!a.traced) Map.empty else {
      val warm = {
        def calls(k: Int): Unit = (1 to k).foreach(_ => graft.schema.Tables.t(spark, a.dataDir, "lineitem"))
        calls(2000)
        val lt0 = System.nanoTime()
        calls(20000)
        (System.nanoTime() - lt0) / 1e3 / 20000
      }
      val scopes = layers.scopes
      val work = Seq("build", "exec").flatMap(scopes.get)
      def sum(f: layers.Totals => java.util.concurrent.atomic.LongAdder): Double = work.map(f(_).sum).sum / np
      val runS = sum(_.runMs) / 1e3
      val cpuExecS = sum(_.cpuNs) / 1e9
      // per timed pass, except the peaks
      Map("layers" -> Map(
        "ops.build_ms" -> buildMs / np,
        "ops.build_jobs" -> scopes.get("build").map(_.jobs.sum).getOrElse(0L) / np,
        "catalyst.analysis_ms" -> layers.phaseMs("analysis", exec0, exec1) / np,
        "catalyst.optimization_ms" -> layers.phaseMs("optimization", exec0, exec1) / np,
        "catalyst.planning_ms" -> layers.phaseMs("planning", exec0, exec1) / np,
        "sched.jobs" -> sum(_.jobs),
        "sched.stages" -> sum(_.stages),
        "sched.tasks" -> sum(_.tasks),
        "sched.delay_ms" -> sum(_.delayMs),
        "exec.run_s" -> runS,
        "exec.cpu_s" -> cpuExecS,
        "exec.gc_s" -> sum(_.gcMs) / 1e3,
        "exec.shuffle_write_mb" -> sum(_.shuffleWriteB) / 1e6,
        "exec.spill_mb" -> sum(_.spillB) / 1e6,
        "exec.cpu_share" -> (if (runS > 0) cpuExecS / runS else 0.0),
        "cache.frames_peak" -> cachePeak,
        "cache.storage_peak_mb" -> storagePeakB / 1e6,
        "cache.growth_queries" -> growth / np,
        "schema.tables_t_us" -> warm),
        "spans" -> spans.json)
    }
    layers.close()

    CacheRegistry.clear(spark)
    spark.stop()

    def json(rs: Seq[Result]) = rs.map(r => Map("name" -> r.name, "ok" -> r.ok, "wall_ms" -> r.wallMs,
      "build_ms" -> r.buildMs, "fp" -> r.fp, "error" -> r.error))
    Map(
      "nproc" -> n,
      "setup_s" -> setupCold,
      "calib" -> Seq(calibPre, calibPost).map(c => Map("wall_s" -> c.wallS, "cpu_s" -> c.cpuS)),
      "cold_s" -> coldS,
      "cold_cpu_s" -> coldCpuS,
      "order" -> order,
      "cold" -> json(cold),
      "check" -> json(check),
      "passes" -> passes.result().map { case (rs, wallS, cpuS) =>
        Map("wall_s" -> wallS, "cpu_s" -> cpuS, "queries" -> json(rs)) }) ++ traced
  }
}
