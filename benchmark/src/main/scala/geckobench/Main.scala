package geckobench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run of one workload, in one process: set up three times
  * (session, warm-up, staging of the seeded inputs) keeping the last,
  * record the host-noise controls, run the workload as a closed loop with
  * one client for `--seconds`, run its output checks, and write
  * `result.json` and `trace.jsonl` to `--out`. `run.py` turns those two
  * files into the reported metrics.
  *
  * With `--trace 1` the loop alternates detailed-metrics iterations with
  * plain ones, so the traced and untraced `job_s` come from the same
  * process, and the layer probes run after the loop. */
object Main {
  private val SetUps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val workload = Workload.named(workloadName)
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val out = new java.io.File(opts("out"))
    val cores = opts.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val runId = opts.getOrElse("run-id", s"$workloadName-$seed")

    // ---- set-up, three times; the last session and staging are kept
    val setups = (1 to SetUps).map { k =>
      val t0 = System.nanoTime()
      val spark = graft.GraftSession.local(cores)
      spark.sparkContext.setLogLevel("WARN")
      val t1 = System.nanoTime()
      warmUp(spark)
      val t2 = System.nanoTime()
      workload.stage(spark, seed, new java.io.File(out, s"stage-$k"))
      val t3 = System.nanoTime()
      if (k < SetUps) spark.stop()
      (spark, Map("session_start_s" -> (t1 - t0) / 1e9,
        "warmup_s" -> (t2 - t1) / 1e9, "stage_s" -> (t3 - t2) / 1e9,
        "total_s" -> (t3 - t0) / 1e9))
    }
    val spark = setups.last._1
    graft.core.Warnings.drain()

    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, seed, cores)
    val controlsPre = controls(spark, cores)

    // ---- closed loop. Iterations 0 and 1 are untimed warm-up passes
    // (after a single one, the first timed pass still ran 10-20% slow
    // while the JIT compiled hot paths). Iteration 0 runs at another
    // shuffle partition count, and every later iteration must return
    // exactly its result: that checks both repeatability and partition
    // invariance without a separate rerun.
    val warmUps = 2
    val iterations = Seq.newBuilder[Map[String, Any]]
    val checks = Seq.newBuilder[(String, Boolean, String)]
    var first: Option[Map[String, Any]] = None
    var iter = 0
    var loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // at least one timed iteration (one of each kind when tracing), then
    // more while the window lasts
    val minIter = warmUps + (if (traced) 1 else 0)
    while (iter <= minIter || elapsed < seconds) {
      val detailed = traced && iter >= warmUps && (iter - warmUps) % 2 == 0
      tracer.iter = iter
      tracer.detailed = detailed
      val t0 = tracer.now()
      val result =
        try Some(ctx.withPartitions(if (iter == 0) 2 * cores + 1 else cores)(
          tracer.span("job")(workload.iteration(ctx))))
        catch {
          case e: Throwable =>
            checks += ((s"iteration_$iter", false, e.toString))
            None
        }
      val jobS = tracer.now() - t0
      tracer.drain()
      val warnings = graft.core.Warnings.drain().size
      result.foreach { r =>
        if (first.isEmpty) first = Some(r)
        else if (r != first.get) checks += ((s"same_output_$iter", false,
          s"iteration $iter returned $r; the warm-up at ${2 * cores + 1} " +
            s"partitions returned ${first.get}"))
      }
      iterations += Map("iter" -> iter, "timed" -> (iter >= warmUps),
        "traced" -> detailed, "job_s" -> jobS, "ok" -> result.isDefined,
        "warnings" -> warnings)
      iter += 1
      if (iter == warmUps) loopStart = System.nanoTime()
    }
    val (attempted, failed) = (ctx.attempted, ctx.failed)
    checks ++= workRepeat(tracer)
    val probes =
      if (!traced) Map.empty[String, Double]
      else {
        tracer.iter = -1
        tracer.detailed = true
        try workload.probes(ctx)
        catch {
          case e: Throwable =>
            checks += (("probes", false, e.toString))
            Map.empty[String, Double]
        }
      }
    val controlsPost = controls(spark, cores)
    val checkList = checks.result()
    val report = first.map(workload.report).getOrElse(Map.empty)

    tracer.write(Paths.get(out.getPath, "trace.jsonl"), runId)
    val result = Json.obj(
      "run" -> runId, "workload" -> workloadName, "seed" -> seed,
      "seconds" -> seconds, "traced" -> traced, "cores" -> cores,
      "setups" -> setups.map(_._2),
      "iterations" -> iterations.result(),
      "attempted" -> attempted, "failed" -> failed,
      "checks" -> checkList.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "controls" -> Map(
        "codegen_pre_s" -> controlsPre._1, "shuffle_pre_s" -> controlsPre._2,
        "codegen_post_s" -> controlsPost._1,
        "shuffle_post_s" -> controlsPost._2),
      "probes" -> probes, "report" -> report,
      "peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(out.getPath, "result.json"), result + "\n")
    spark.stop()
  }

  /** The same session warm-up `graft.Bench` does: a first query, and the
    * mutator stats-plus-rewrite path, whose first use pays one-time code
    * generation. */
  private def warmUp(spark: SparkSession): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    val tiny = spark.range(100)
      .selectExpr("id as __row_id", "concat('A', id) as v")
    graft.mut.Mutators.WithLowercase(seed = 1)(
      tiny, Seq("v"), 0.5, col("__row_id")).count()
    graft.core.Warnings.drain()
  }

  /** `graft.Bench`'s two host-noise control recipes at a tenth of their
    * size, one pass each: 20M `xxhash64` in whole-stage codegen, and a
    * 2M-row shuffle into 200k groups. Context for the reader (a loud host
    * slows them too), never gated. */
  private def controls(spark: SparkSession, cores: Int): (Double, Double) = {
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val codegen = timed {
      spark.range(0L, 20000000L, 1L, cores)
        .selectExpr("bit_xor(xxhash64(id))").collect()
    }
    val shuffle = timed {
      spark.range(0L, 2000000L, 1L, cores)
        .selectExpr("pmod(xxhash64(id), 200000) as k")
        .groupBy("k").count()
        .selectExpr("bit_xor(count)").collect()
    }
    (codegen, shuffle)
  }

  /** A timed call must launch the same Spark jobs on every iteration,
    * warm-ups included, traced or not: a repeat that does less work was
    * served from a memo, and its time would not be the cost of the call.
    * One job of slack is allowed, because adaptive execution may add or
    * drop a broadcast stage depending on which query stage finishes
    * first (and on the first iteration's partition count). Task counts
    * are reported with a failure but not compared, for the same reason. */
  private def workRepeat(tracer: Tracer): Seq[(String, Boolean, String)] = {
    val spans = tracer.allSpans
    val roots = spans.filter(s => s.name == "job" && s.iter >= 0)
      .map(_.id).toSet
    val calls = spans.filter(s => roots.contains(s.parent))
    calls.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (name, occ) =>
      val work = occ.map(s => s.iter -> tracer.inclusiveWork(s.id))
      val jobs = work.map(_._2._1)
      if (jobs.max - jobs.min <= 1) Nil
      else Seq((s"work_repeat:$name", false,
        work.map { case (i, (j, t)) => s"iter $i: $j jobs/$t tasks" }
          .mkString(", ")))
    }
  }

  /** The process's peak resident memory (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
  }
}
