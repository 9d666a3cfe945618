package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftSession}

/** The benchmark's JVM side: the session (timed as `setup_s`), the seeded
  * input copies, then one closed-loop run of a workload — a cold
  * iteration, the workload's warm-up iterations, and timed iterations for
  * the requested seconds, each one checked after it returns. A traced run
  * alternates traced and untraced iterations and adds the per-layer
  * probes.
  *
  * Results go to `--out` as one JSON object; `run.py` turns them into the
  * benchmark's report line. */
object Main {
  val Cores = 4
  /** Timed iterations run for `--seconds`, and at least this many
    * untraced ones (a traced run alternates, and needs one fewer). */
  val MinTimed = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    HeapAfterGc.install()
    val spark = GraftSession.local("perfbench", Cores)
    val setupS = secondsSinceJvmStart()
    val out = Paths.get(a("out"))
    val code =
      try {
        write(out, run(spark, a, setupS))
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    // Nothing after the result is measured: skip the session's orderly
    // shutdown (run.py deletes the run's scratch directory).
    Runtime.getRuntime.halt(code)
  }

  private def secondsSinceJvmStart(): Double = {
    val start = ProcessHandle.current().info().startInstant()
    val t0Ms = if (start.isPresent) start.get.toEpochMilli
      else java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (System.currentTimeMillis() - t0Ms) / 1000.0
  }

  private def write(p: Path, s: String): Unit = Files.write(p, (s + "\n").getBytes(UTF_8))

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def readExpected(path: Option[String]): Map[String, String] =
    path.filter(p => Files.exists(Paths.get(p))).map { p =>
      val props = new java.util.Properties()
      val in = Files.newInputStream(Paths.get(p))
      try props.load(in) finally in.close()
      props.stringPropertyNames().toArray(Array.empty[String]).map(k => k -> props.getProperty(k)).toMap
    }.getOrElse(Map.empty)

  val InputTables = Seq("customer", "orders", "events", "documents", "nation")
  val InputParts = 4

  /** Copies of the committed inputs with the rows shuffled by `seed` and
    * dealt into `InputParts` files; the content is the same for every seed.
    * Each copy keeps its original's codec, and a row group as large as the
    * original's largest one (the originals hold one each), so the copies
    * differ only in row order and file count. Plain parquet-mr, not Spark,
    * so the cold iteration stays cold. */
  def seededInputs(source: String, dest: String, seed: Long): Unit = {
    val conf = new Configuration()
    InputTables.foreach { t =>
      val src = new HPath(s"$source/$t.parquet")
      val footer = ParquetFileReader.open(HadoopInputFile.fromPath(src, conf))
      val meta = try footer.getFooter finally footer.close()
      val blocks = meta.getBlocks.asScala
      val codec = blocks.head.getColumns.get(0).getCodec
      val rowGroupBytes = blocks.map(_.getTotalByteSize).max
      val reader = ParquetReader.builder(new GroupReadSupport(), src).withConf(conf).build()
      val rows = try Iterator.continually(reader.read()).takeWhile(_ != null).toVector finally reader.close()
      new scala.util.Random(seed).shuffle(rows).zipWithIndex.groupBy(_._2 % InputParts).foreach { case (p, part) =>
        val w = ExampleParquetWriter.builder(new HPath(f"$dest/$t.parquet/part-$p%05d.parquet"))
          .withType(meta.getFileMetaData.getSchema).withConf(conf)
          .withCompressionCodec(codec).withRowGroupSize(rowGroupBytes).build()
        try part.foreach { case (g, _) => w.write(g) } finally w.close()
      }
    }
  }

  def run(spark: SparkSession, a: Map[String, String], setupS: Double): String = {
    val traced = a.getOrElse("trace", "0") == "1"
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val work = Paths.get(a("work"))
    Files.createDirectories(work)
    seededInputs(a("source"), a("inputs"), seed)
    // the start gate: a short grace for a transient load spike, then go
    val (loadStart, waited) = Bench.waitForQuiet(maxWaitSecs = 1, pollSecs = 1)
    val tracer = new Tracer(traced, s"${a("workload")}-seed$seed")
    val listener = if (traced) Some(MetricsListener.install(spark)) else None
    val ctx = new Ctx(spark, a("inputs"), work, seed, tracer, listener, readExpected(a.get("expected")))
    val w = Workloads(a("workload"))

    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    var iter = 0
    /** One checked iteration: its wall seconds and result, or None when it
      * threw or failed its check. Either way it counts as attempted. */
    def once(tracedIter: Boolean): Option[(Double, Map[String, Double])] = {
      val dir = work.resolve(s"iter-$iter")
      if (iter > 0) Dirs.deleteRecursively(work.resolve(s"iter-${iter - 1}"))
      iter += 1
      attempted += 1
      try {
        val (it, wall) = Workloads.timed(w.iterate(ctx, dir, tracedIter))
        val bad = w.check(ctx, dir)
        System.err.println(f"[perfbench] iteration ${iter - 1} traced=$tracedIter wall=$wall%.3f s ok=${bad.isEmpty}")
        if (bad.isEmpty) Some((wall, it))
        else { failed += 1; failures ++= bad; None }
      } catch {
        case e: Throwable =>
          failed += 1
          failures += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          None
      }
    }

    val cold = once(traced)
    // A fixed warm-up per workload keeps the timed iterations at the same
    // point of the JIT's warm-up in every run.
    val warm = (1 to w.warmups).flatMap(_ => once(false).map(_._1))

    val host0 = Bench.hostBusyCpuSecs()
    val own0 = Bench.ownCpuSecs()
    val t0 = System.nanoTime()
    val plain = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    val withTrace = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    var k = 0
    // failing iterations still count, but do not keep the loop going
    val minPlain = if (traced) MinTimed - 1 else MinTimed
    def more = (System.nanoTime() - t0) / 1e9 < seconds ||
      (plain.size < minPlain && k < 2 * MinTimed) || (traced && withTrace.isEmpty && k < 4)
    while (more && k < 100) {
      val t = traced && k % 2 == 1
      once(t).foreach(r => (if (t) withTrace else plain) += r)
      k += 1
    }
    val timedWall = (System.nanoTime() - t0) / 1e9
    val otherCores = (Bench.hostBusyCpuSecs() - host0 - (Bench.ownCpuSecs() - own0)) / timedWall

    val runS = Stats.median(plain.map(_._1).toSeq)
    // steady state: the timed iterations are no faster than the warm-up
    val steady = warm.nonEmpty && runS >= 0.97 * warm.min
    val endToEnd = Map(
      "setup_s" -> setupS,
      "cold_run_s" -> cold.map(_._1).getOrElse(Double.NaN),
      "run_s" -> runS,
      "rows_per_s" -> w.inputRows / runS,
      "peak_rss_mb" -> peakRssMb(),
      "heap_after_gc_mb" -> HeapAfterGc.peakMb)

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val its = withTrace.map(_._2).toSeq
        val names = its.flatMap(_.keys).distinct
        val med = names.map(n => n -> Stats.median(its.flatMap(_.get(n)))).toMap
        val runTraced = Stats.median(withTrace.map(_._1).toSeq)
        val (probed, probeFailures) =
          try w.probes(ctx)
          catch { case e: Throwable => (Map.empty[String, Double], Seq(s"probe ${e.getClass.getSimpleName}: ${e.getMessage}")) }
        attempted += 1
        if (probeFailures.nonEmpty) { failed += 1; failures ++= probeFailures }
        val selfS = med.getOrElse("sinks.write_s", 0.0) - probed.getOrElse("operators.compute_s", 0.0)
        med ++ probed ++ Map("sinks.self_s" -> selfS,
          "trace.overhead_s" -> (runTraced - runS))
      }
    a.get("spans").foreach(p => write(Paths.get(p), tracer.toJson))

    Json.obj(Seq(
      "workload" -> w.name, "seed" -> seed, "traced" -> traced,
      "metrics" -> endToEnd,
      "layers" -> layers,
      "samples" -> Map("warmup" -> warm.size, "timed" -> plain.size, "traced" -> withTrace.size,
        "input_rows" -> w.inputRows, "steady" -> steady),
      "warmup_s" -> warm.toSeq,
      "timed_s" -> plain.map(_._1).toSeq,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.take(10).toSeq,
      "ambient" -> Map("load_start" -> loadStart, "waited_s" -> waited,
        "other_cores" -> otherCores, "busy_host" -> (otherCores > 0.5)),
      "fingerprints" -> ctx.fingerprints.toMap))
  }
}
