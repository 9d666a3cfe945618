package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.RunMailing
import graft.operators.{Dedup, DupClusters, NearDup}
import graft.pipeline.{CorpusPipeline, GraftConfig, MailingPipeline, StageReport}
import graft.sinks.BrCsvSink
import graft.sources.Tables
import graft.state.StateStore
import graft.functions.PiiScrub

/** What one run hands a workload: the session, the seeded input copies,
  * a scratch directory, the span recorder and (traced runs only) the
  * metrics listener. */
final class Ctx(val spark: SparkSession, val inputs: String, val work: Path, val seed: Long,
                val tracer: Tracer, val listener: Option[MetricsListener],
                val expected: Map[String, String]) {
  /** Output fingerprints of the latest checked outputs, by name. */
  val fingerprints = mutable.LinkedHashMap.empty[String, String]
  def snapshot: Counters = listener.map(_.snapshot(spark.sparkContext)).getOrElse(Counters())
}

trait Workload {
  def name: String
  /** Input rows one iteration reads, for `rows_per_s`. */
  def inputRows: Long
  /** Untimed iterations between the cold one and the timed ones. */
  def warmups: Int
  /** One iteration, including its sink writes, writing under `out`; a
    * traced one returns its per-layer values. */
  def iterate(ctx: Ctx, out: Path, traced: Boolean): Map[String, Double]
  /** Output-check failures of the iteration written under `out`; the
    * caller runs it, untimed, right after `iterate`. */
  def check(ctx: Ctx, out: Path): Seq[String]
  /** Traced runs only, after the timed iterations: per-layer probes and
    * the output-check failures of any product call they make. */
  def probes(ctx: Ctx): (Map[String, Double], Seq[String])
}

object Workloads {
  /** The committed reference was recorded with this seed. */
  val DefaultSeed = 0L

  def apply(name: String): Workload = name match {
    case "mailing" => new Mailing
    case "corpus"  => new Corpus
    case other     => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Writes a frame through Spark's `noop` sink: every row is produced,
    * nothing is stored. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Each named input written to `noop`, timed, with the listener's
    * read counters for the same window. */
  def scanProbe(ctx: Ctx, frames: Seq[DataFrame]): Map[String, Double] = {
    val c0 = ctx.snapshot
    val (_, secs) = timed(frames.foreach(f => ctx.tracer.span("sources.scan")(noop(f))))
    val d = ctx.snapshot - c0
    Map("sources.scan_s" -> secs, "sources.rows_read" -> d.recordsRead.toDouble,
      "sources.bytes_read" -> d.bytesRead.toDouble)
  }

  /** Listener-derived per-layer values of one traced iteration. */
  def counterLayers(ctx: Ctx, d: Counters, wallS: Double, t0Ms: Long, t1Ms: Long): Map[String, Double] = {
    val covered = ctx.listener.map(_.jobCoveredMs(t0Ms, t1Ms)).getOrElse(0L) / 1000.0
    Map(
      "operators.task_busy_s" -> d.taskBusyMs / 1000.0,
      "operators.task_cpu_s" -> d.taskCpuNs / 1e9,
      "operators.jobs" -> d.jobs.toDouble,
      "operators.stages" -> d.stages.toDouble,
      "operators.tasks" -> d.tasks.toDouble,
      "operators.driver_gap_s" -> math.max(0.0, wallS - covered),
      "operators.max_over_peer_median" -> d.maxOverPeerMedian,
      "exchange.shuffle_mb" -> d.shuffleWriteBytes / 1e6,
      "exchange.spill_mb" -> d.spillBytes / 1e6)
  }

  def checkFp(what: String, got: String, want: Option[String]): Seq[String] = want match {
    case Some(w) if w != got => Seq(s"$what fingerprint $got != expected $w")
    case None                => Seq(s"$what has no expected fingerprint")
    case _                   => Nil
  }
}

import Workloads._

/** The lines of a `RunLog` file (`<instant> - <LEVEL> - <message>`), to
  * time the steps between them. */
final class RunLogSteps(lines: Seq[(Long, String)]) {
  /** Epoch ns of the first line whose message starts with `prefix`; a
    * missing line means `RunMailing.execute` no longer logs the step, and
    * fails the iteration. */
  def at(prefix: String): Long = lines.collectFirst { case (t, m) if m.startsWith(prefix) => t }
    .getOrElse(throw new IllegalStateException(s"run log has no line starting with '$prefix'"))
}

object RunLogSteps {
  def read(logDir: Path): RunLogSteps = {
    val files = scala.util.Using.resource(Files.list(logDir))(_.iterator().asScala.toList)
      .filter(_.getFileName.toString.endsWith(".log"))
    require(files.size == 1, s"expected one run log in $logDir, found ${files.size}")
    new RunLogSteps(Files.readAllLines(files.head).asScala.toSeq.flatMap { l =>
      l.split(" - ", 3) match {
        case Array(ts, _, msg) =>
          val t = java.time.Instant.parse(ts)
          Some((t.getEpochSecond * 1000000000L + t.getNano) -> msg)
        case _                 => None
      }
    })
  }
}

/** `RunMailing.execute` with `RunMailing.main`'s default config. */
final class Mailing extends Workload {
  val name = "mailing"
  // on 4 cores: about 16 s cold, then 6.5, 5.6, 5.3, 5.0, 4.8 s; more
  // warm-up would steady run_s, but each run must stay under a minute so
  // that a full set of runs fits in the hour
  val warmups = 2
  // customer 15k + orders 150k + events 100k + nation 25
  val inputRows: Long = 15000L + 150000L + 100000L + 25L
  private val Masked = Set("Data_de_Importacao")

  val config: GraftConfig = GraftConfig.default.copy(
    humanCutoff = 1500000.0,
    slotGroups = ListMap(
      "08HRS" -> Seq("BUILDING", "MACHINERY"),
      "09HRS" -> Seq("HOUSEHOLD"),
      "10HRS" -> Seq("FURNITURE")))

  /** Every iteration calls `RunMailing.execute` itself. A traced one
    * derives its spans from outside the call: one `sinks.write` per file
    * write the listener saw inside the call, and `sinks.zip` and
    * `state.save` from the timestamps of the run log's lines around
    * `Archiver.zipDirectory` and `StateStore.saveSuccess`. */
  def iterate(ctx: Ctx, out: Path, traced: Boolean): Map[String, Double] = {
    val state = new StateStore(out.resolve("state.json").toString)
    def execute(): Unit = RunMailing.execute(ctx.spark, ctx.inputs, out.toString, config, state)
    if (!traced) {
      execute()
      Map.empty
    } else {
      val T = ctx.tracer
      T.beginIteration()
      val c0 = ctx.snapshot
      val t0Ms = System.currentTimeMillis()
      val (_, wall) = timed(T.span("mailing.execute")(execute()))
      val t1Ms = System.currentTimeMillis()
      val d = ctx.snapshot - c0
      val parent = T.lastId("mailing.execute")
      val writes = ctx.listener.get.sqlExecutions(t0Ms, t1Ms).filter(_.isFileWrite)
      if (writes.isEmpty) throw new IllegalStateException("no file write seen inside RunMailing.execute")
      writes.foreach(w => T.observed("sinks.write", parent, w.startMs * 1000000L, w.endMs * 1000000L))
      val log = RunLogSteps.read(out.resolve("logs"))
      T.observed("sinks.zip", parent, log.at("Contagens:"), log.at("Arquivo comprimido"))
      T.observed("state.save", parent, log.at("Arquivo comprimido"), log.at("=" * 30 + " PROCESSO CONCLUIDO"))
      val zipped = Files.size(out.resolve("mailing_human.zip")).toDouble
      val zipInput = Dirs.sizeOf(out.resolve("human")).toDouble
      counterLayers(ctx, d, wall, t0Ms, t1Ms) ++ Map(
        "sinks.write_s" -> T.lastTotal("sinks.write"),
        "sinks.rows_written" -> d.recordsWritten.toDouble,
        "sinks.bytes_written" -> d.bytesWritten.toDouble,
        "sinks.files_written" -> (Dirs.dataFiles(out.resolve("human")) +
          Dirs.dataFiles(out.resolve("robot")) + Dirs.dataFiles(out.resolve("rejected"))).toDouble,
        "sinks.zip_s" -> T.lastTotal("sinks.zip"),
        "sinks.zip_ratio" -> (if (zipped > 0) zipInput / zipped else 0.0),
        "state.save_s" -> T.lastTotal("state.save"))
    }
  }

  def check(ctx: Ctx, out: Path): Seq[String] = {
    val got = ListMap(
      "mailing.human" -> Fingerprint.ofCsvDir(out.resolve("human").toString, ';', Masked),
      "mailing.robot" -> Fingerprint.ofCsvDir(out.resolve("robot").toString, '|', Masked),
      "mailing.rejected" -> Fingerprint.ofCsvDir(out.resolve("rejected").toString, ';', Masked),
      "mailing.zip" -> Fingerprint.ofZip(out.resolve("mailing_human.zip").toString, ';', Masked))
    ctx.fingerprints ++= got
    val state = new StateStore(out.resolve("state.json").toString)
    val human = got("mailing.human").takeWhile(_ != ':').toLong
    val stateOk =
      if (state.status.contains("COMPLETED") && state.lastMetrics.get("human").contains(human)) Nil
      else Seq(s"mailing state ${state.status} ${state.lastMetrics} does not record $human human rows")
    val zipOk = if (got("mailing.zip") == got("mailing.human")) Nil
      else Seq("mailing zip rows differ from the human export")
    // the seed only reorders input, so every seed must match the reference
    got.toSeq.flatMap { case (k, v) => checkFp(k, v, ctx.expected.get(k)) } ++ stateOk ++ zipOk
  }

  def probes(ctx: Ctx): (Map[String, Double], Seq[String]) = {
    val spark = ctx.spark
    val scan = scanProbe(ctx, Seq(Tables.customer(spark, ctx.inputs), Tables.orders(spark, ctx.inputs),
      Tables.events(spark, ctx.inputs), Tables.nation(spark, ctx.inputs)))
    // the time for MailingPipeline.full to return, median of three calls
    val builds = (1 to 3).map(_ => timed(ctx.tracer.span("pipeline.build")(MailingPipeline.full(spark, ctx.inputs, config))))
    val r = builds.last._1
    val frames = Seq(
      BrCsvSink.polish(r.human, moneyCols = Seq("valorDivida"),
        idCols = Seq("CPF", "CONTATO_01", "CONTATO_02", "CONTATO_03", "CONTATO_04"),
        textCols = Seq("NOME_CLIENTE", "Cliente_Regulariza")),
      BrCsvSink.polish(r.robot, moneyCols = Seq("valorDivida"), idCols = Seq("CPF")),
      r.rejected.coalesce(1))
    val (_, planS) = timed(ctx.tracer.span("pipeline.plan")(frames.foreach(_.queryExecution.executedPlan)))
    val (_, computeS) = timed(ctx.tracer.span("operators.compute")(frames.foreach(noop)))
    // the streaming forms of the mailing's blocklist and settlement stages
    val (stream, streamFailures) = StreamDrive.probe(ctx)
    (scan ++ stream ++ Map("pipeline.build_s" -> Stats.median(builds.map(_._2)), "pipeline.plan_s" -> planS,
      "operators.compute_s" -> computeS), streamFailures)
  }
}

/** The `RunCorpus` path: prepare, split-partitioned parquet write, per-split
  * read-back. */
final class Corpus extends Workload {
  val name = "corpus"
  // on 4 cores: about 21 s cold, then 10, 8.6, 8.0, 7.6 s
  val warmups = 1
  val inputRows = 5000L
  private var splits: Seq[(String, Long, Long)] = Nil

  /** Registered queries timed in the probe phase (materialized and counted). */
  val Queries: Seq[String] = Seq("q56_repetition", "q170_quality_features", "q21_lang_id", "q09_br_format")

  def iterate(ctx: Ctx, out: Path, traced: Boolean): Map[String, Double] = {
    val T = ctx.tracer
    val c0 = ctx.snapshot
    val t0Ms = System.currentTimeMillis()
    T.beginIteration()
    val (_, wall) = timed(T.span("corpus.run") {
      val docs = Tables.documents(ctx.spark, ctx.inputs)
      val report = new StageReport
      val corpus = T.span("pipeline.build")(CorpusPipeline.prepare(docs, col("doc_id"), col("text"), report = Some(report)))
      T.span("sinks.write")(corpus.write.mode("overwrite").partitionBy("split").parquet(out.resolve("corpus").toString))
      splits = T.span("sinks.read_back")(ctx.spark.read.parquet(out.resolve("corpus").toString)
        .groupBy("split").agg(count(lit(1)).as("n"), sum("ws_tokens").as("tokens"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq)
      T.span("pipeline.stage_report")(report.awaitAll())
    })
    if (!traced) Map.empty
    else {
      val t1Ms = System.currentTimeMillis()
      val d = ctx.snapshot - c0
      counterLayers(ctx, d, wall, t0Ms, t1Ms) ++ Map(
        "pipeline.build_s" -> T.lastTotal("pipeline.build"),
        "sinks.write_s" -> T.lastTotal("sinks.write"),
        "sinks.rows_written" -> d.recordsWritten.toDouble,
        "sinks.bytes_written" -> d.bytesWritten.toDouble,
        "sinks.files_written" -> Dirs.dataFiles(out.resolve("corpus")).toDouble)
    }
  }

  def check(ctx: Ctx, out: Path): Seq[String] = {
    val back = ctx.spark.read.parquet(out.resolve("corpus").toString)
    val fp = Fingerprint.ofFrame(back)
    val splitFp = Fingerprint.ofRecords(splits.iterator.map { case (s, n, t) => s"$s:$n:$t" })
    ctx.fingerprints ++= Seq("corpus.rows" -> fp, "corpus.splits" -> splitFp)
    val rows = fp.takeWhile(_ != ':').toLong
    val readBackOk = if (splits.map(_._2).sum == rows) Nil
      else Seq(s"corpus read-back counts ${splits.map(_._2).sum} != $rows rows written")
    checkFp("corpus.rows", fp, ctx.expected.get("corpus.rows")) ++
      checkFp("corpus.splits", splitFp, ctx.expected.get("corpus.splits")) ++ readBackOk
  }

  def probes(ctx: Ctx): (Map[String, Double], Seq[String]) = {
    val spark = ctx.spark
    val T = ctx.tracer
    val docs = Tables.documents(spark, ctx.inputs)
    val scan = scanProbe(ctx, Seq(docs))
    val corpus = CorpusPipeline.prepare(docs, col("doc_id"), col("text"))
    val (_, planS) = timed(T.span("pipeline.plan")(corpus.queryExecution.executedPlan))
    val (_, computeS) = timed(T.span("operators.compute")(noop(corpus)))
    // the gate's per-row text features alone
    val ingested = docs.select(col("doc_id").cast("long").as("id"), col("text"))
    val cfg = CorpusPipeline.Config()
    val (_, featS) = timed(T.span("functions.text_features")(noop(CorpusPipeline.scoreAndGate(ingested, cfg))))
    // near-dup and clustering on the post-exact-dedup documents
    val kept = CorpusPipeline.scoreAndGate(ingested, cfg)
      .withColumn("text", PiiScrub.scrub(call_function("graft_nfc", col("text"))))
      .localCheckpoint(true)
    val keepIds = Dedup.exactByHash(kept, col("text"), col("id")).select(col("keep_id").as("id"))
    val exact = kept.join(keepIds, Seq("id"), "left_semi").localCheckpoint(true)
    val (pairs, ndS) = timed(T.span("operators.neardup")(NearDup.ngramJaccardPairs(exact, col("id"), col("text"),
      cfg.shingleK, cfg.nearDupThreshold, cfg.maxGramDocFreq).localCheckpoint(true)))
    val nPairs = pairs.count().toDouble // untimed: the pair count is a counter, not a time
    val (_, dcS) = timed(T.span("operators.dupclusters")(noop(DupClusters.connectedComponents(pairs))))
    val queries = Queries.flatMap { q =>
      val f = graft.SparkEntry.queries(q)
      val (_, mat) = timed(T.span(s"queries.$q.mat")(noop(f(spark, ctx.inputs))))
      val (_, cnt) = timed(T.span(s"queries.$q.count")(f(spark, ctx.inputs).count()))
      Seq(s"queries.$q.mat_s" -> mat, s"queries.$q.count_s" -> cnt)
    }
    (scan ++ queries ++ Map("pipeline.plan_s" -> planS, "operators.compute_s" -> computeS,
      "functions.text_features_s" -> featS, "operators.neardup_s" -> ndS,
      "operators.neardup_pairs" -> nPairs, "operators.dupclusters_s" -> dcS), Nil)
  }
}
