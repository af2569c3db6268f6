package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfBenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.{GraftSession, ScaleQueries, SparkEntry}
import graft.pipeline.Etl
import graft.schemas.Schemas
import graft.sinks.ParquetSink
import graft.sources.Fixtures

/** JVM side of the benchmark: one client, one op at a time, on one
  * session. It runs a workload's ops for a fixed time and writes a raw
  * run record (op timings, per-op trace counts, heap samples, oracle SQL)
  * as JSON; `perfbench/run.py` checks outputs and computes the metrics.
  *
  * Args: --workload etl_star|catalog --data DIR --seconds S --seed N
  *       --trace 0|1 --out FILE [--min-ops N]
  *   catalog:  --queries q1,q2@DIR,... --verify-dir DIR [--warm-passes N]
  *             (a query runs over its `@DIR`, else over --data)
  *   etl_star: --log DIR (the generated JSON log) [--warm-builds N]
  */
object PerfBench {

  /** `local[4]`: the four-core host the workloads are sized for. */
  val Cores = 4

  final case class Conf(workload: String, data: String, seconds: Double,
      seed: Long, trace: Boolean, out: String, queries: Seq[String],
      verifyDir: String, minOps: Int, log: String, warmPasses: Int, warmBuilds: Int) {
    /** Query name -> its input directory, in list order. */
    val queryData: Seq[(String, String)] = queries.map { spec =>
      spec.split("@", 2) match {
        case Array(q, dir) => q -> dir
        case _ => spec -> data
      }
    }
  }

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("data"), m("seconds").toDouble, m("seed").toLong,
      m.getOrElse("trace", "0") == "1", m("out"),
      m.getOrElse("queries", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      m.getOrElse("verify-dir", ""), m.getOrElse("min-ops", "1").toInt, m.getOrElse("log", ""),
      m.getOrElse("warm-passes", "0").toInt, m.getOrElse("warm-builds", "0").toInt)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val spark = GraftSession.builder(s"local[$Cores]", Cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    phase("session started")
    val ok = try {
      val run = new Run(spark, conf)
      val record = conf.workload match {
        case "etl_star" => run.etlStar()
        case "catalog" => run.catalog()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      Files.writeString(Paths.get(conf.out), record)
      true
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] run aborted: $e")
      e.printStackTrace()
      false
    } finally shutdown(spark)
    if (!ok) sys.exit(1)
  }

  /** Logs how far into the JVM's life a set-up phase ended. */
  def phase(name: String): Unit = {
    val up = System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench] ${up / 1e3}%.1f s: $name")
  }

  /** Blocking release of every persistent RDD and cached plan. */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Blocking unpersist first: a non-blocking one races `stop()` and ends
    * the run with RejectedExecutionException traces from the block
    * manager's shutdown. */
  def shutdown(spark: SparkSession): Unit = {
    try sweep(spark) catch { case e: Throwable =>
      System.err.println(s"[perfbench] sweep before stop failed: $e") }
    spark.stop()
  }
}

final class Run(spark: SparkSession, conf: PerfBench.Conf) {
  import PerfBench._

  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  private val ops = mutable.ArrayBuffer[String]()
  private val heapMb = mutable.ArrayBuffer[Double]()
  private val refS = mutable.ArrayBuffer[Double]()
  private val reported = mutable.Set[String]()
  private var firstOpMs = Double.NaN
  private val tracer = new Tracer

  /** Each failed op prints its name and exception once. */
  private def report(name: String, e: Throwable): String = {
    val msg = s"${e.getClass.getName}: ${e.getMessage}".take(2000)
    if (reported.add(name)) System.err.println(s"[perfbench] FAILED $name: $msg")
    msg
  }

  /** Live heap after a full collection: the working set held between ops.
    * Spark's context cleaner drops the blocks of the RDDs, shuffles and
    * broadcasts a collection freed on its own thread, so collections repeat
    * until the heap stops shrinking by more than 1 MB (at most five). */
  private def sampleHeap(): Unit = {
    def used: Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used
    var next = last
    var tries = 1
    do {
      Thread.sleep(200)
      last = next
      next = used
      tries += 1
    } while (last - next > 1.0 && tries < 5)
    heapMb += next
  }

  /** Untimed, after each timed build or pass, once `sampleHeap` has let
    * the engine's background work settle: `n` rounds of `Calibrate`, which
    * sample the host's core speed all through the timed loop. */
  private def calibrate(n: Int): Unit = refS ++= Calibrate.rounds(Cores, n)

  private def persistentIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Times one op: `construct` builds the result (may run jobs), `action`
    * consumes it. Tracing, when on for this op, is registered around it
    * and the listener bus is drained at both edges. */
  private def op[A](name: String, pass: Int, traced: Boolean)
      (construct: => A)(action: A => Option[Map[String, Long]]): Unit = {
    val t = if (traced) {
      PerfBenchBus.drain(sc)
      val t = new OpTrace
      tracer.cur = t
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      Some(t)
    } else None
    val rddsBefore = persistentIds
    val gc0 = gcMs
    val t0 = System.nanoTime()
    if (firstOpMs.isNaN) firstOpMs = epochMs(t0)
    var t1 = t0
    var counts: Option[Map[String, Long]] = None
    val err = try {
      val a = construct
      t1 = System.nanoTime()
      counts = action(a)
      None
    } catch { case e: Throwable =>
      if (t1 == t0) t1 = System.nanoTime()
      Some(report(name, e))
    }
    val t2 = System.nanoTime()
    val gc = gcMs - gc0
    t.foreach { _ =>
      PerfBenchBus.drain(sc)
      sc.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
      tracer.cur = null
    }
    val rddsLeft = (persistentIds -- rddsBefore).size
    ops += Json.obj(
      "name" -> name, "pass" -> pass, "traced" -> traced,
      "start_ms" -> epochMs(t0), "construct_end_ms" -> epochMs(t1),
      "end_ms" -> epochMs(t2),
      "construct_s" -> (t1 - t0) / 1e9, "wall_s" -> (t2 - t0) / 1e9,
      "ok" -> err.isEmpty, "error" -> err, "driver_gc_ms" -> gc,
      "rdds_left" -> rddsLeft,
      "counts" -> counts.map(c => Json.Raw(Json.obj(c.toSeq.sortBy(_._1): _*))),
      "trace" -> t.map(x => Json.Raw(x.json)))
  }

  /** Traced runs interleave traced and untraced ops (untraced, traced,
    * traced, untraced, ...) so the tracing overhead is measured in-run. */
  private def traced(i: Int): Boolean = conf.trace && (i % 4 == 1 || i % 4 == 2)

  /** Runs `body` (one op or one pass) at least `minOps` times, then again
    * while the next one is expected to end within `seconds` of the first
    * start, give or take half its length. */
  private def timedLoop(body: Int => Unit): Unit = {
    Calibrate.rounds(Cores, 10)   // compiles the calibration loop
    phase("set-up done")
    val deadline = System.nanoTime() + (conf.seconds * 1e9).toLong
    var i = 0
    var last = 0L
    while (i < conf.minOps || (i > 0 && System.nanoTime() + last / 2 <= deadline)) {
      val t0 = System.nanoTime()
      body(i)
      last = System.nanoTime() - t0
      i += 1
    }
  }

  private def record(extra: (String, Any)*): String = Json.obj(Seq(
    "workload" -> conf.workload,
    "first_op_ms" -> firstOpMs,
    "cores" -> Cores,
    "ops" -> ops.map(Json.Raw),
    "heap_mb" -> heapMb, "ref_s" -> refS) ++ extra: _*)

  /** Moves a generated JSON log (events_json/, songs_json/) to where the
    * engine's fixtures for `dir` live, so `Etl.run(spark, dir)` reads it. */
  private def install(log: String, dir: String): Unit =
    Seq("events_json" -> Fixtures.eventsJsonDir(dir),
        "songs_json" -> Fixtures.songsJsonDir(dir)).foreach { case (src, dst) =>
      Files.createDirectories(Paths.get(dst).getParent)
      Files.move(Paths.get(log, src), Paths.get(dst))
    }

  /** Repeated full `Etl.run` builds over the generated input; the memo is
    * dropped (untimed) before each one so every build is a real rebuild.
    * `--warm-builds` untimed builds of the same input first compile the
    * plans and warm the JIT. */
  def etlStar(): String = {
    val dir = conf.data
    install(conf.log, dir)
    for (_ <- 0 until conf.warmBuilds) {
      Etl.invalidate(dir)
      Etl.run(spark, dir)
    }
    phase(s"${conf.warmBuilds} warm builds done")
    timedLoop { i =>
      Etl.invalidate(dir)
      op("etl_build", i, traced(i))(())(_ => Some(Etl.run(spark, dir)))
      sampleHeap()
      calibrate(5)
    }
    val steps = if (conf.trace) stepwise(dir) else Nil
    System.setProperty("graft.oracle.sf", dir)
    record(
      "steps" -> Json.Raw(Json.obj(steps: _*)),
      "oracle" -> Json.Raw(Json.obj(
        "q13_star_pipeline_counts" -> SparkEntry.oracleSql("q13_star_pipeline_counts"))))
  }

  /** The build's steps run one after another through `Etl`'s public step
    * functions and `ParquetSink.write` (traced runs only): the sum of the
    * step times against a concurrent `Etl.run` is the pipeline overlap. */
  private def stepwise(dir: String): Seq[(String, Any)] = {
    val sink = new ParquetSink(Paths.get(sys.props("perfbench.work"), "steps").toString)
    (Seq("staging_events", "staging_songs") ++ Etl.tables).foreach(sink.drop)
    def step(name: String)(f: => Unit): (String, Any) = {
      val t0 = System.nanoTime()
      f
      name -> (System.nanoTime() - t0) / 1e9
    }
    val sk = Schemas.sortKeys.get _
    val staged = Seq(
      step("stage_events")(sink.write(Etl.stageEvents(spark, dir), "staging_events")),
      step("stage_songs")(sink.write(Etl.stageSongs(spark, dir), "staging_songs")))
    val ev = sink.read(spark, "staging_events")
    val sg = sink.read(spark, "staging_songs")
    staged ++ Seq(
      step("songplay")(sink.write(Etl.songplay(ev, sg), "songplay", sk("songplay"))),
      step("users")(sink.write(Etl.users(ev), "users", sk("users"))),
      step("songs")(sink.write(Etl.songs(sg), "songs", sk("songs"))),
      step("artists")(sink.write(Etl.artists(sg), "artists", sk("artists"))),
      step("time")(sink.write(Etl.time(ev), "time", sk("time"))),
      step("counts")(Etl.tables
        .map(t => sink.read(spark, t).select(lit(t).as("t")).groupBy("t").count())
        .reduce(_ union _).collect()))
  }

  /** Per-op state reset, Bench's rule: the Etl memo for the star queries,
    * q54's cached projection, and each write-once layout query's own
    * layouts. Untimed. */
  private def resetFor(name: String, data: String): Unit = name match {
    case "q13_star_pipeline_counts" | "q14_star_songplay" => Etl.invalidate(data)
    case "q54_quality_cutoff" => spark.catalog.clearCache()
    case q => ScaleQueries.layoutsByQuery.get(q)
      .foreach(ScaleQueries.purgeLayouts(spark, data, _))
  }

  /** A catalog op must not build or reuse the Etl star: a memo hit would
    * time a cache lookup instead of the query. */
  private def starTouched(data: String): Boolean = Files.exists(Paths.get(Etl.starRoot(data)))

  /** Repeated passes over a query list, in a seeded order per pass. The
    * untimed first pass writes each result, at the scale it is timed at,
    * for the oracle check and warms the plans; `--warm-passes` more
    * untimed passes finish the warmup. */
  def catalog(): String = {
    val fns = SparkEntry.queries
    val queries = conf.queryData.map(_._1)
    val dataOf = conf.queryData.toMap
    val missing = queries.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val warmFailures = mutable.ArrayBuffer[String]()
    conf.queryData.foreach { case (q, data) =>
      resetFor(q, data)
      try fns(q)(spark, data).write.mode("overwrite")
        .parquet(Paths.get(conf.verifyDir, q).toString)
      catch { case e: Throwable => report(q, e); warmFailures += q }
    }
    phase("oracle pass done")
    for (_ <- 0 until conf.warmPasses; q <- queries if !warmFailures.contains(q)) {
      resetFor(q, dataOf(q))
      fns(q)(spark, dataOf(q)).write.format("noop").mode("overwrite").save()
    }
    sweep(spark)
    timedLoop { p =>
      val order = new scala.util.Random(conf.seed * 7919 + p).shuffle(queries)
      order.zipWithIndex.foreach { case (q, i) =>
        resetFor(q, dataOf(q))
        op(q, p, conf.trace && (p + i) % 2 == 1) {
          fns(q)(spark, dataOf(q))
        } { df =>
          df.write.format("noop").mode("overwrite").save()
          if (starTouched(dataOf(q)))
            throw new IllegalStateException("op reached the Etl star memo")
          None
        }
      }
      sweep(spark)
      sampleHeap()
      calibrate(10)
    }
    // oracle SQL renders its fixture paths for the scale in this property
    val oracle = conf.queryData.groupBy(_._2).toSeq.flatMap { case (data, qs) =>
      System.setProperty("graft.oracle.sf", data)
      val sql = SparkEntry.oracleSql
      qs.flatMap { case (q, _) => sql.get(q).map(q -> _) }
    }
    record(
      "warm_failures" -> warmFailures,
      "oracle" -> Json.Raw(Json.obj(oracle: _*)))
  }
}
