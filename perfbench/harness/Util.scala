package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.lang.management.{ManagementFactory, MemoryType}
import java.security.MessageDigest
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); 0 on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Length of the union of half-open intervals. */
  def merged(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Just enough JSON to write flat objects of numbers and strings. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case s: String  => str(s)
    case b: Boolean => b.toString
    case d: Double  => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int     => n.toString
    case n: Long    => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other      => str(String.valueOf(other))
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Order-free fingerprints of outputs: the row count plus the wrapping sum
  * of a 64-bit digest per row. Equal multisets of rows give equal
  * fingerprints whatever the file layout, part-file names or row order. */
object Fingerprint {
  final class Acc {
    var n = 0L
    var sum = 0L
    def add(record: String): Unit = {
      val d = MessageDigest.getInstance("MD5").digest(record.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(d).getLong
      n += 1
    }
    def result: String = f"$n:$sum%016x"
  }

  def ofRecords(records: Iterator[String]): String = {
    val a = new Acc
    records.foreach(a.add)
    a.result
  }

  /** Rows of a frame, collected to the driver: one record per row. */
  def ofFrame(df: DataFrame): String = {
    val cols = df.columns.sorted.toSeq
    ofRecords(df.select(cols.map(df.col): _*).collect().iterator.map(_.mkString("\u0001")))
  }

  /** Splits one CSV line on `sep`, keeping double-quoted fields whole. */
  def splitCsv(line: String, sep: Char): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    line.foreach { ch =>
      if (ch == '"') { quoted = !quoted; cur += ch }
      else if (ch == sep && !quoted) { out += cur.toString; cur.clear() }
      else cur += ch
    }
    out += cur.toString
    out.result()
  }

  /** Decoded CSV rows of one file: the header is dropped (one per part
    * file), each record is tagged with the file's directory (the
    * partition path, never the part-file name) and `masked` columns are
    * blanked, so the run date does not enter the fingerprint. */
  def csvRecords(dirTag: String, lines: Seq[String], sep: Char, masked: Set[String]): Iterator[String] =
    if (lines.isEmpty) Iterator.empty
    else {
      val header = splitCsv(lines.head.stripPrefix("\uFEFF"), sep).map(_.stripPrefix("\uFEFF"))
      val idx = header.zipWithIndex.collect { case (h, i) if masked(h) => i }.toSet
      lines.iterator.drop(1).map { l =>
        val f = splitCsv(l, sep)
        dirTag + "\u0002" + f.indices.map(i => if (idx(i)) "<masked>" else f(i)).mkString("\u0001")
      }
    }

  private def lines(text: String): Seq[String] =
    text.split("\n", -1).toSeq.map(_.stripSuffix("\r")).filter(_.nonEmpty)

  def isDataCsv(name: String): Boolean = name.endsWith(".csv") && !name.startsWith(".")

  /** Every data CSV under `dir` (recursively). */
  def ofCsvDir(dir: String, sep: Char, masked: Set[String]): String = {
    val root = Paths.get(dir)
    val files = scala.util.Using.resource(Files.walk(root))(_.iterator().asScala.toList)
      .filter(p => Files.isRegularFile(p) && isDataCsv(p.getFileName.toString))
    ofRecords(files.iterator.flatMap { f =>
      val tag = Option(root.relativize(f).getParent).map(_.toString).getOrElse("")
      csvRecords(tag, lines(new String(Files.readAllBytes(f), UTF_8)), sep, masked)
    })
  }

  /** The data CSV entries of a zip, decoded; the run log, checksums and
    * markers the archive also carries are skipped. */
  def ofZip(zip: String, sep: Char, masked: Set[String]): String = {
    val zf = new java.util.zip.ZipFile(zip)
    try {
      val entries = zf.entries().asScala.toList.filter(e => isDataCsv(Paths.get(e.getName).getFileName.toString))
      ofRecords(entries.iterator.flatMap { e =>
        val text = new String(zf.getInputStream(e).readAllBytes(), UTF_8)
        val tag = Option(Paths.get(e.getName).getParent).map(_.toString).getOrElse("")
        csvRecords(tag, lines(text), sep, masked)
      })
    } finally zf.close()
  }
}

object Dirs {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val all = scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toList)
      all.reverse.foreach(Files.deleteIfExists(_))
    }

  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum)

  /** Data files (no checksums, markers or hidden files) under `p`. */
  def dataFiles(p: Path): Int =
    if (!Files.exists(p)) 0
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.count { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    })
}

/** Peak heap in use right after a garbage collection, over the JVM's life:
  * the most the program kept live, free of how far the collector let
  * garbage pile up before collecting it. */
object HeapAfterGc {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakBytes = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            .getGcInfo.getMemoryUsageAfterGc.asScala
          val used = after.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
          synchronized { peakBytes = math.max(peakBytes, used) }
        }, null, null)
    case _ =>
  }

  def peakMb: Double = peakBytes / 1048576.0
}
