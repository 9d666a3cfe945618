package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextClean
import graft.operators.Remittance
import graft.sources.Tables
import graft.streaming.{StreamBlocklist, StreamDedupAdmit, StreamRemittance, VersionedStore}

/** One drive of micro-batches through three versioned-store operators, as
  * a `foreachBatch` trigger would call them: `StreamBlocklist.applyBatch`
  * over the disposition events, `StreamRemittance.applyBatch` over the
  * purchases (compacted every `CompactEvery` batches) and
  * `StreamDedupAdmit.applyBatch` over the documents. Every
  * `ReplayEvery`-th batch id is delivered twice, the second call finding it
  * committed. The seed picks the cut points; remittance batches are
  * event-time ranges, because its FIFO allocation follows arrival order.
  *
  * Checks: the order-free blocklist counts and the settlement readout must
  * equal their batch computations; admitted documents are distinct and
  * known, and for the default seed match the committed fingerprint
  * (admission depends on arrival order). */
object StreamDrive {
  val Batches = 3
  val CompactEvery = 3
  val ReplayEvery = 3
  val Critical = Seq("error")

  private def hashBatch(df: DataFrame, id: String, seed: Long, b: Int): DataFrame =
    df.where(pmod(xxhash64(col(id), lit(seed)), lit(Batches.toLong)) === b)

  def probe(ctx: Ctx): (Map[String, Double], Seq[String]) = {
    val spark = ctx.spark
    val T = ctx.tracer
    val ev = Tables.events(spark, ctx.inputs)
    val pay = ev.where(col("event_type") === "purchase")
    val invoices = Tables.orders(spark, ctx.inputs).where(col("o_orderstatus").isin("O", "P"))
    val docs = Tables.documents(spark, ctx.inputs)

    // seeded event-time cut points strictly inside the events' span
    val span = ev.agg(min("ts"), max("ts")).head()
    val (lo, hi) = (span.getTimestamp(0).getTime, span.getTimestamp(1).getTime)
    val rnd = new scala.util.Random(ctx.seed)
    val cuts = Seq.fill(Batches - 1)(lo + 1 + (rnd.nextDouble() * (hi - lo - 1)).toLong)
      .sorted.map(new java.sql.Timestamp(_))
    def tsBatch(b: Int): DataFrame = {
      val lower = if (b == 0) lit(true) else col("ts") >= lit(cuts(b - 1))
      val upper = if (b == Batches - 1) lit(true) else col("ts") < lit(cuts(b))
      pay.where(lower && upper)
    }

    val out = ctx.work.resolve("stream")
    val blockDir = out.resolve("blocklist").toString
    val remitDir = out.resolve("remittance").toString
    val admitDir = out.resolve("admit").toString
    val perDrive = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var calls = 0
    var committed = 0
    /** One `applyBatch` call; it counts as committed when the store shows
      * the batch id committed after the call and not before it. */
    def applied(dir: String, b: Int)(apply: => Unit): Unit = {
      val before = VersionedStore.isCommitted(spark, dir, b.toLong)
      apply
      if (!before && VersionedStore.isCommitted(spark, dir, b.toLong)) committed += 1
      calls += 1
    }
    def batch(drive: String, dir: String, b: Int)(apply: => Unit): Unit = applied(dir, b) {
      val (_, s) = Workloads.timed(T.span(s"streaming.apply.$drive")(apply))
      perDrive.getOrElseUpdate(drive, mutable.ArrayBuffer.empty) += s * 1000
    }
    def replay(dir: String, b: Int)(apply: => Unit): Unit = applied(dir, b)(T.span("streaming.replay")(apply))

    T.beginIteration()
    val c0 = ctx.snapshot
    val plan0 = ctx.listener.map(_.planningSeconds).getOrElse(0.0)
    val ledger = T.span("pipeline.build")(Remittance.invoiceIntervals(invoices,
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .localCheckpoint(true))
    def block(b: Int) = StreamBlocklist.applyBatch(hashBatch(ev, "event_id", ctx.seed, b),
      col("user_id"), col("event_type"), Critical, blockDir, b.toLong)
    def remit(b: Int) = StreamRemittance.applyBatch(tsBatch(b), col("user_id"),
      col("event_id"), col("ts"), col("value"), ledger, remitDir, b.toLong)
    def admit(b: Int) = StreamDedupAdmit.applyBatch(hashBatch(docs, "doc_id", ctx.seed, b),
      col("doc_id"), col("text"), admitDir, b.toLong, k = 3, numHashes = 8, rowsPerBand = 2, minAgree = 4)
    for (b <- 0 until Batches) {
      batch("blocklist", blockDir, b)(block(b))
      batch("remittance", remitDir, b)(remit(b))
      batch("dedup_admit", admitDir, b)(admit(b))
      if ((b + 1) % ReplayEvery == 0) {
        replay(blockDir, b)(block(b)); replay(remitDir, b)(remit(b)); replay(admitDir, b)(admit(b))
      }
      if ((b + 1) % CompactEvery == 0) T.span("streaming.compact")(StreamRemittance.compact(spark, remitDir))
    }
    val settlement = Remittance.settlementReadout(invoices, col("o_custkey"), col("o_orderkey"),
      col("o_totalprice"), StreamRemittance.readAllocations(spark, remitDir).get)
    T.span("streaming.read") {
      Workloads.noop(Tables.customer(spark, ctx.inputs)
        .join(StreamBlocklist.blockedKeys(spark, blockDir, threshold = 3), col("c_custkey") === col("key"), "left_anti"))
      Workloads.noop(settlement)
      Workloads.noop(StreamDedupAdmit.admittedAll(spark, admitDir).get)
    }
    val d = ctx.snapshot - c0
    val planS = ctx.listener.map(_.planningSeconds).getOrElse(0.0) - plan0

    val dirs = Seq(blockDir, remitDir, admitDir)
    val versions = dirs.map(VersionedStore.committedVersions(spark, _).size).sum
    val storeBytes = dirs.map(p => Dirs.sizeOf(Paths.get(p))).sum
    val inputBytes = Seq("events", "documents").map(t => Dirs.sizeOf(Paths.get(ctx.inputs, s"$t.parquet"))).sum
    val nCompact = T.lastCount("streaming.compact")
    val nReplay = T.lastCount("streaming.replay")
    val metrics = perDrive.toSeq.flatMap { case (k, v) =>
      Seq(s"streaming.apply_ms_p50.$k" -> Stats.quantile(v.toSeq, 0.5),
        s"streaming.apply_ms_p90.$k" -> Stats.quantile(v.toSeq, 0.9))
    }.toMap ++ Map(
      "streaming.plan_s_per_batch" -> planS / committed,
      "streaming.read_ms" -> T.lastTotal("streaming.read") * 1000,
      "streaming.compact_ms" -> (if (nCompact > 0) T.lastTotal("streaming.compact") * 1000 / nCompact else 0.0),
      "streaming.replay_ms" -> (if (nReplay > 0) T.lastTotal("streaming.replay") * 1000 / nReplay else 0.0),
      "streaming.versions" -> versions.toDouble,
      "streaming.bytes_written_per_batch" -> d.bytesWritten.toDouble / committed,
      "streaming.store_bytes_per_input_byte" -> storeBytes.toDouble / inputBytes,
      "streaming.jobs_per_batch" -> d.jobs.toDouble / committed,
      "streaming.useful_ratio" -> committed.toDouble / calls)

    // checks, untimed
    val block0 = Fingerprint.ofFrame(ev.filter(TextClean.normKey(col("event_type")).isin(Critical: _*))
      .groupBy(col("user_id").as("key")).agg(count(lit(1)).as("n_critical")))
    val settle0 = Fingerprint.ofFrame(Remittance.settlement(invoices,
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
      pay, col("user_id"), col("event_id"), col("ts"), col("value")))
    val blockFp = Fingerprint.ofFrame(StreamBlocklist.readLatestCounts(spark, blockDir).get)
    val settleFp = Fingerprint.ofFrame(settlement)
    val ids = StreamDedupAdmit.admittedAll(spark, admitDir).get
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
    val admitFp = Fingerprint.ofRecords(ids.iterator.map(_.toString))
    val known = docs.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val failures =
      (if (blockFp != block0) Seq(s"stream blocklist counts $blockFp != batch $block0") else Nil) ++
      (if (settleFp != settle0) Seq(s"stream settlement $settleFp != batch FIFO $settle0") else Nil) ++
      (if (ids.distinct.length != ids.length) Seq("dedup admission admitted a document twice") else Nil) ++
      (if (!ids.forall(known)) Seq("dedup admission admitted an unknown document") else Nil) ++
      (if (ctx.seed == Workloads.DefaultSeed)
        Workloads.checkFp("stream.admitted", admitFp, ctx.expected.get("stream.admitted")) else Nil)
    ctx.fingerprints("stream.admitted") = admitFp
    (metrics, failures)
  }
}
