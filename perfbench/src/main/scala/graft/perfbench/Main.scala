package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Q, SparkEntry}

/** A workload as `workloads.json` declares it. */
final case class Workload(name: String, warm: Seq[String], keys: Seq[String])

/** The closed-loop runner. One client sends the workload's registry ops one
  * at a time, each after the previous has completed: an op is timed from
  * the call into `Q.run` until `collect()` has materialized every output
  * column on the driver, both in wall time and in CPU time ([[Cpu.work]]),
  * and its output is then checked (untimed) against the answer `oracle.py`
  * computed with DuckDB.
  *
  * Setup is repeated `--reps` times on identical copies of the inputs
  * (`<data>/rep<i>`), so every per-directory warm cache is built anew each
  * time; a repetition is the workload's warm-cache builds plus one untimed
  * pass. The timed passes run on the last copy, until `--seconds` have
  * elapsed, always finishing the pass they are in.
  *
  * Usage: Main --spec workloads.json --workload W --data DIR --expected DIR
  *        --seed N --seconds S --trace 0|1 --reps K --cores C [--trace-out F]
  *        Main --dump-oracle OUT.json
  */
object Main {

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(s"--$k")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def need(args: Array[String], k: String): String =
    arg(args, k).getOrElse(throw new IllegalArgumentException(s"missing --$k"))

  def loadWorkload(spec: String, name: String): Workload = {
    val w = mapper.readTree(new java.io.File(spec)).get(name)
    require(w != null, s"unknown workload $name")
    def strs(f: String) = w.get(f).elements.asScala.map(_.asText).toSeq
    Workload(name, strs("warm"), strs("keys"))
  }

  /** The warm-cache builders the workloads call, by step name. */
  val warmSteps: Map[String, (SparkSession, String) => Unit] = Map(
    "layout_partitioned" -> { (s, d) => graft.operators.LayoutCache.partitionedLineitem(s, d); () },
    "dedup" -> graft.operators.Dedup.warmDedup,
    "stream_inputs" -> graft.operators.Streaming.prepareInputs
  )

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def dirBytes(p: String): Long = {
    val f = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(f)) 0L
    else scala.util.Using.resource(java.nio.file.Files.walk(f)) { st =>
      st.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
    }
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  private val mapper = new ObjectMapper()

  def dumpOracle(out: String): Unit = {
    val body = mapper.createObjectNode()
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => body.put(k, v) }
    mapper.writerWithDefaultPrettyPrinter.writeValue(new java.io.File(out), body)
  }

  def main(args: Array[String]): Unit = {
    arg(args, "dump-oracle") match {
      case Some(out) => dumpOracle(out)
      case None => run(args)
    }
  }

  private def run(args: Array[String]): Unit = {
    val wl = loadWorkload(need(args, "spec"), need(args, "workload"))
    val data = need(args, "data")
    val expDir = need(args, "expected")
    val seed = need(args, "seed").toLong
    val seconds = need(args, "seconds").toDouble
    val traced = need(args, "trace") == "1"
    val reps = need(args, "reps").toInt
    val cores = need(args, "cores").toInt
    val scratch = sys.env.getOrElse("GRAFT_SCRATCH_ROOT",
      throw new IllegalStateException("GRAFT_SCRATCH_ROOT must pin the scratch backing"))

    val registry: Map[String, Q] = SparkEntry.allQueries.map(q => q.name -> q).toMap
    val missing = wl.keys.filterNot(registry.contains)
    require(missing.isEmpty, s"workload names unknown registry keys: ${missing.mkString(",")}")
    val expected = wl.keys.map(k => k -> Check.load(s"$expDir/$k.json")).toMap

    val tSession = System.nanoTime()
    val spark = session(cores, new java.io.File(scratch).getParent)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    System.err.println(f"[perfbench] session: $sessionS%.2f s, JVM up " +
      f"${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s")
    val trace = if (traced) Some(new Trace(spark)) else None
    val root = trace.map(t => t.open(s"workload ${wl.name}", -1))

    var attempted = 0L
    var failed = 0L
    var correct = true
    val errors = mutable.LinkedHashMap.empty[String, String]
    var timing = false // inside the timed passes
    val phaseTotals = mutable.HashMap.empty[String, Map[String, Double]]
    val phaseSeconds = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var driverCpu = 0.0

    /** Runs `body` as one phase of an op; in a traced run it becomes a span
      * and, inside the timed passes, its counters are added to the phase's
      * totals. Returns the body's value and its wall seconds. */
    def phase[T](name: String, parent: Int)(body: => T): (T, Double) = trace match {
      case None =>
        val t0 = System.nanoTime()
        val v = body
        (v, (System.nanoTime() - t0) / 1e9)
      case Some(t) =>
        val before = t.counters.snapshot
        val c0 = Cpu.work()
        val id = t.open(name, parent)
        val t0 = System.nanoTime()
        val v = try body finally t.close(id)
        val secs = (System.nanoTime() - t0) / 1e9
        val cpu = Cpu.work() - c0
        t.drain()
        if (timing) {
          val d = Counters.diff(t.counters.snapshot, before)
          phaseTotals(name) = Counters.sum(phaseTotals.getOrElse(name, Map.empty), d)
          phaseSeconds(name) += secs
          if (name != "check") driverCpu += cpu - d.getOrElse("exec.task_cpu_s", 0.0)
        }
        (v, secs)
    }

    /** One op: build, materialize, check. Returns its latency and the
      * CPU it used ([[Cpu.work]]), in seconds (build + materialize), or None
      * when it threw or its check failed. */
    def op(key: String, dir: String, parent: Int): Option[(Double, Double)] = {
      val id = trace.map(t => t.open(key, parent)).getOrElse(-1)
      trace.foreach(_.enterOp(id))
      def batches = trace.map(_.counters.snapshot.getOrElse("stream.batches", 0.0)).getOrElse(0.0)
      try {
        val b0 = batches
        val c0 = Cpu.work()
        val (df, tb) = phase("build", id)(registry(key).run(spark, dir))
        val ((schema, rows), tm) = phase[(StructType, Array[Row])]("materialize", id) {
          (df.schema, df.collect())
        }
        val cpu = Cpu.work() - c0
        if (timing && batches > b0) phaseSeconds("stream_op") += tb + tm
        val (verdict, _) = phase("check", id)(Check(schema, rows, expected(key)))
        System.err.println(f"[perfbench] $key%-32s ${(tb + tm) * 1e3}%9.1f ms ${cpu * 1e3}%7.0f cpu-ms ${rows.length}%7d rows  ${if (verdict.isEmpty) "ok" else verdict}")
        if (verdict.nonEmpty) {
          correct = false
          errors.getOrElseUpdate(key, verdict)
          None
        } else Some((tb + tm, cpu))
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(key, describe(e))
          None
      } finally trace.foreach(_.close(id))
    }

    /** Runs every key once; returns the op results, the pass's wall
      * seconds and the CPU seconds its ops used (checks excluded). */
    def pass(keys: Seq[String], dir: String, label: String)
        : (Seq[Option[(Double, Double)]], Double, Double) = {
      val id = root.map(r => trace.get.open(label, r)).getOrElse(-1)
      val t0 = System.nanoTime()
      val res = keys.map(k => op(k, dir, id))
      val wall = (System.nanoTime() - t0) / 1e9
      trace.foreach(_.close(id))
      (res, wall, res.flatten.map(_._2).sum)
    }

    // Setup, repeated: warm-cache builds plus one untimed pass per copy.
    val warmTimes = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var setupFailed = 0L
    for (r <- 0 until reps) {
      val dir = s"$data/rep$r"
      val id = root.map(x => trace.get.open(s"setup $r", x)).getOrElse(-1)
      val t0 = System.nanoTime()
      val c0 = Cpu.work()
      val j0 = Cpu.jit()
      for (step <- wl.warm) {
        val ts = System.nanoTime()
        try warmSteps(step)(spark, dir)
        catch {
          case e: Throwable =>
            setupFailed += 1
            errors.getOrElseUpdate(s"warm.$step", describe(e))
        }
        warmTimes.getOrElseUpdate(step, mutable.ArrayBuffer.empty) += (System.nanoTime() - ts) / 1e9
      }
      pass(wl.keys, dir, s"warm-up pass $r")
      setupTimes += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup $r: ${setupTimes.last}%.2f s, cpu ${Cpu.work() - c0}%.2f s, jit ${Cpu.jit() - j0}%.2f s")
      trace.foreach(_.close(id))
      if (r < reps - 1) {
        // The next copy rebuilds every cache; drop what this one holds.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
    }
    val storageMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    val scratchSetupMb = dirBytes(scratch) / 1e6

    // Timed passes: whole passes until `seconds` have elapsed.
    val dir = s"$data/rep${reps - 1}"
    val rng = new scala.util.Random(seed)
    val latencies = mutable.ArrayBuffer.empty[Double]
    val opCpus = mutable.ArrayBuffer.empty[Double]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val passCpus = mutable.ArrayBuffer.empty[Double]
    val firstTrigger = trace.map(_.triggerMs.size).getOrElse(0)
    timing = true
    val (jit0, gc0) = if (traced) (Cpu.jit(), Cpu.gc()) else (0.0, 0.0)
    val tStart = System.nanoTime()
    var p = 0
    while (p == 0 || (System.nanoTime() - tStart) / 1e9 < seconds) {
      val order = rng.shuffle(wl.keys)
      val (res, wall, cpu) = pass(order, dir, s"pass $p")
      attempted += res.size
      failed += res.count(_.isEmpty)
      res.flatten.foreach { case (l, c) => latencies += l; opCpus += c }
      passWalls += wall
      passCpus += cpu
      p += 1
    }
    timing = false
    val passes = p
    val (jitS, gcS) = if (traced) (Cpu.jit() - jit0, Cpu.gc() - gc0) else (0.0, 0.0)
    System.err.println(f"[perfbench] timed: $passes passes, ${(System.nanoTime() - tStart) / 1e9}%.2f s")
    val timedTriggers = (firstTrigger, trace.map(_.triggerMs.size).getOrElse(0))
    attempted += setupFailed
    failed += setupFailed
    errors.foreach { case (k, v) => System.err.println(s"[perfbench] FAILED $k: $v") }

    val metrics: Seq[(String, Double, String)] = trace match {
      case None =>
        Seq(
          ("setup_s", median(setupTimes.toSeq), "s"),
          ("pass_cpu_s", median(passCpus.toSeq), "s"),
          ("op_cpu_p50_ms", median(opCpus.toSeq) * 1e3, "ms"),
          ("warm_state_mb", storageMb + scratchSetupMb, "MB"))
      case Some(t) =>
        root.foreach(t.close(_))
        val all = phaseTotals.values.foldLeft(Map.empty[String, Double])(Counters.sum)
        val build = phaseTotals.getOrElse("build", Map.empty)
        def per(v: Double) = v / passes
        val opSeconds = phaseSeconds("build") + phaseSeconds("materialize")
        val taskRun = all.getOrElse("exec.task_run_s", 0.0)
        val trigger = all.getOrElse("stream.trigger_ms", 0.0)
        val streamOpS = phaseSeconds("stream_op")
        val triggers = t.triggerMs.slice(timedTriggers._1, timedTriggers._2).toSeq
        val warm = warmSteps.keys.toSeq.sorted.map { s =>
          (s"warm.${s}_s", warmTimes.get(s).map(b => median(b.toSeq)).getOrElse(0.0), "s")
        }
        def c(k: String) = per(all.getOrElse(k, 0.0))
        warm ++ Seq(
          ("trace.pass_s", median(passWalls.toSeq), "s"),
          ("trace.op_p50_ms", median(latencies.toSeq) * 1e3, "ms"),
          ("setup.session_s", sessionS, "s"),
          ("setup.first_s", setupTimes.head, "s"),
          ("build.s", per(phaseSeconds("build")), "s"),
          ("build.jobs", per(build.getOrElse("sched.jobs", 0.0)), "count"),
          ("build.checkpoint_mb", per(build.getOrElse("block.rdd_mb", 0.0)), "MB"),
          ("materialize.s", per(phaseSeconds("materialize")), "s"),
          ("check.s", per(phaseSeconds("check")), "s"),
          ("catalyst.analysis_ms", c("catalyst.analysis_ms"), "ms"),
          ("catalyst.optimization_ms", c("catalyst.optimization_ms"), "ms"),
          ("catalyst.planning_ms", c("catalyst.planning_ms"), "ms"),
          ("driver.cpu_s", per(driverCpu), "s"),
          ("jvm.jit_cpu_s", per(jitS), "s"),
          ("jvm.gc_cpu_s", per(gcS), "s"),
          ("sched.jobs", c("sched.jobs"), "count"),
          ("sched.stages", c("sched.stages"), "count"),
          ("sched.tasks", c("sched.tasks"), "count"),
          ("sched.idle_core_s", per(opSeconds * cores - taskRun), "s"),
          ("exec.task_run_s", c("exec.task_run_s"), "s"),
          ("exec.task_cpu_s", c("exec.task_cpu_s"), "s"),
          ("exec.gc_s", c("exec.gc_s"), "s"),
          ("exec.core_occupancy", if (opSeconds > 0) taskRun / (opSeconds * cores) else 0.0, "ratio"),
          ("shuffle.write_mb", c("shuffle.write_mb"), "MB"),
          ("shuffle.read_mb", c("shuffle.read_mb"), "MB"),
          ("shuffle.spill_mb", c("shuffle.spill_mb"), "MB"),
          ("shuffle.fetch_wait_ms", c("shuffle.fetch_wait_ms"), "ms"),
          ("scan.input_mb", c("scan.input_mb"), "MB"),
          ("scan.input_rows", c("scan.input_rows"), "count"),
          ("stream.batches", c("stream.batches"), "count"),
          ("stream.trigger_ms", c("stream.trigger_ms"), "ms"),
          ("stream.add_batch_ms", c("stream.add_batch_ms"), "ms"),
          ("stream.query_planning_ms", c("stream.query_planning_ms"), "ms"),
          ("stream.wal_commit_ms", c("stream.wal_commit_ms"), "ms"),
          ("stream.commit_offsets_ms", c("stream.commit_offsets_ms"), "ms"),
          ("stream.state_commit_ms", c("stream.state_commit_ms"), "ms"),
          ("stream.state_rows", c("stream.state_rows"), "count"),
          ("stream.outside_trigger_s", if (trigger > 0) per(streamOpS - trigger / 1e3) else 0.0, "s"),
          ("stream.ingest_rows_per_s",
            if (streamOpS > 0) all.getOrElse("stream.input_rows", 0.0) / streamOpS else 0.0, "1/s"),
          ("stream.microbatch_p50_ms", if (triggers.nonEmpty) median(triggers) else 0.0, "ms"),
          ("sink.output_mb", c("sink.output_mb"), "MB"),
          ("sink.output_rows", c("sink.output_rows"), "count"),
          ("scratch.mb", dirBytes(scratch) / 1e6, "MB"))
    }
    trace.foreach(t => arg(args, "trace-out").foreach(t.write))
    val result = mapper.createObjectNode()
    result.put("correct", correct).put("attempted", attempted).put("failed", failed)
    val m = result.putObject("metrics")
    metrics.foreach { case (k, v, u) => m.putObject(k).put("value", v).put("unit", u) }
    println(mapper.writeValueAsString(result))
    spark.stop()
  }

}
