package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** GraftLog — a minimal DataSource V2 micro-batch source over an
  * append-only segment-file log, exercising the EXACT offset/checkpoint/
  * replay contract the reference relies on from Kafka (SURVEY.md S4/K1,
  * ST4–ST6; the connector jar is absent from this container, so the
  * contract is proven against a file-backed log instead of a broker):
  *
  *  - records expose the Kafka-shaped schema `(offset LONG, value BINARY)`
  *    — `StreamingOps.consumerTransform` runs on it unchanged;
  *  - `initialOffset` = 0 — the consumer's `fromBeginning: true`
  *    (`Consumer/kafkaConsumer.js:53`, ST6 full-topic replay);
  *  - offsets serialize into the query checkpoint; a RESTARTED query
  *    resumes from the committed offset, never re-emitting old records —
  *    at-least-once with checkpoint recovery (ST4/ST5);
  *  - `commit(end)` persists a `.committed` marker in the log directory —
  *    the source-side ack analogue of the producer's post-send
  *    `imap.addFlags('\\Seen')` (K4, `Producer/kafkaProducer.js:208-222`):
  *    an external observer can see how far delivery is acknowledged.
  *
  * Layout: `dir/NNNNNNNN.seg`, one base64 value per line; the global
  * offset of a record is its position in the (segment-name-sorted, then
  * line-order) sequence. Appends create a fresh segment via temp-file +
  * atomic rename, so a concurrently-listing reader never sees a partial
  * segment. Planning splits each segment slice into its own partition —
  * read parallelism scales with segments like Kafka's with partitions.
  * (Listing the directory per `latestOffset` is O(segments) in stat
  * calls; line counts come from a per-log cache keyed by (segment,
  * inode, size) — segments are immutable once visible, and a sink
  * replay that rewrites a b-segment changes its identity key — so the
  * per-micro-batch cost
  * does not re-read every byte of the log's life. A production log
  * would maintain a manifest, which is an I/O detail, not a contract
  * change.)
  */
object GraftLog {
  val schema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("value", BinaryType, nullable = false)))

  /** Append `values` as one new segment (atomic rename). Single-writer:
    * segment order IS offset order, so the next name derives from the
    * current listing — two concurrent appenders, or mixing with a
    * sink-written log (`bNNNNNNNN-p*.seg` names sort after numeric
    * names), would silently renumber global offsets. Both are refused
    * loudly instead of corrupting the replay contract. */
  def append(dir: String, values: Seq[Array[Byte]]): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val segs = listFiles(d).filter(_.endsWith(".seg")) // RAW listing: in-flight sink batches count too
    require(segs.forall(_.matches("\\d{8}\\.seg")),
      s"append(): $dir holds sink-written/foreign segments; appending would reorder offsets")
    val target = d.resolve(f"${segs.size}%08d.seg")
    require(!Files.exists(target),
      s"append(): $target already exists (concurrent appender?)")
    writeSegment(d, values.iterator.map(Base64.getEncoder.encodeToString), target)
  }

  /** Stream `lines` into `target` via temp file + atomic rename — one
    * line at a time, so a segment never needs to fit in memory twice. */
  private[streaming] def writeSegment(d: Path, lines: Iterator[String], target: Path): Unit = {
    val tmp = Files.createTempFile(d, ".tmp-", ".seg.part")
    val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The committed (acknowledged) offset, -1 if none yet — the K4 marker. */
  def committedOffset(dir: String): Long = {
    val p = Paths.get(dir, ".committed")
    if (Files.exists(p)) new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong
    else -1L
  }

  private def listFiles(d: Path): Seq[String] =
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d) // must close: each open stream holds a directory fd
      try s.iterator().asScala.map(_.getFileName.toString).toList
      finally s.close()
    }

  /** Readable segments in offset order. Sink-written segments
    * (`bNNNNNNNN-pNNNNN.seg`) become visible ONLY once their batch's
    * `.bNNNNNNNN.done` marker exists — while a multi-partition batch is
    * in flight, a partition landing out of name order would otherwise
    * shift every later record's global offset under a concurrent
    * reader's feet (the Kafka analogue: uncommitted records are not
    * visible to consumers). Appender segments (numeric names) are
    * single-file atomic renames and need no marker. */
  private[streaming] def listSegments(d: Path): Seq[Path] = {
    val names = listFiles(d)
    val done = names.filter(n => n.startsWith(".b") && n.endsWith(".done"))
      .map(n => n.substring(1, n.length - 5)).toSet
    names.filter { n =>
      n.endsWith(".seg") &&
        (!n.startsWith("b") || done.contains(n.substring(0, n.indexOf('-'))))
    }.sorted.map(d.resolve)
  }

  /** Publish a sink batch: all its segments are on disk, make them
    * visible to readers atomically. The marker records the batch's total
    * record count so a later replay can detect (and refuse) a rewrite
    * that would renumber every subsequent global offset under a
    * committed reader's feet. */
  private[streaming] def markBatchDone(d: Path, batchId: Long, total: Long): Unit = {
    val tmp = Files.createTempFile(d, ".tmp-", ".done.part")
    Files.write(tmp, total.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, d.resolve(f".b$batchId%08d.done"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Record count published for `batchId`, if its .done marker exists. */
  private[streaming] def publishedCount(d: Path, batchId: Long): Option[Long] = {
    val p = d.resolve(f".b$batchId%08d.done")
    if (!Files.exists(p)) None
    else {
      val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim
      if (s.isEmpty) None else Some(s.toLong)
    }
  }

  /** Line counts per log directory, keyed within it by (segment name,
    * inode, size): a visible segment is immutable, and the one mutation
    * path — a sink REPLAY un-publishing and rewriting a b-segment — goes
    * through temp-file + atomic rename, i.e. a NEW inode, so a stale
    * entry can never be served (fileKey beats mtime, whose granularity
    * could miss a same-millisecond rewrite). Each call replaces its
    * directory's entry with the counts of the CURRENT listing, so the
    * cache holds exactly the live segments of every log read and the
    * upkeep is O(segments of this log) — no global size cliff past which
    * every call re-reads every segment. */
  private val countCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[(String, String, Long), Long]]()

  /** (segment, lineCount) pairs in offset order. latestOffset and
    * planInputPartitions both call this every micro-batch — the cache
    * keeps that at O(segments) stat calls instead of re-reading every
    * line of every segment twice per batch. */
  private[graft] def segmentCounts(d: Path): Seq[(Path, Long)] = {
    val dirKey = d.toAbsolutePath.toString
    val prior = countCache.getOrDefault(dirKey, Map.empty)
    val counted = listSegments(d).map { p =>
      val attrs = Files.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      val key = (p.getFileName.toString,
        Option(attrs.fileKey).map(_.toString)
          .getOrElse(attrs.lastModifiedTime.toString),
        attrs.size)
      val n = prior.getOrElse(key, {
        val it = Files.lines(p)
        try it.count() finally it.close()
      })
      (p, key, n)
    }
    countCache.put(dirKey, counted.iterator.map(c => c._2 -> c._3).toMap)
    counted.map(c => (c._1, c._3))
  }
}

/** One contiguous record range of one segment file. */
private[streaming] case class GraftLogPartition(
    file: String, skipLines: Long, takeLines: Long, firstOffset: Long)
  extends InputPartition

private[streaming] case class GraftLogOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** `spark.readStream.format("graft.streaming.GraftLogSource").load(dir)`. */
class GraftLogSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = GraftLog.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GraftLogTable(properties.get("path"))
}

private[streaming] class GraftLogTable(path: String) extends Table with SupportsRead {
  require(path != null, "graft-log needs a path: .load(dir)")
  override def name(): String = s"graft-log($path)"
  override def schema(): StructType = GraftLog.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = GraftLog.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftLogMicroBatchStream(path)
      }
    }
}

private[streaming] class GraftLogMicroBatchStream(path: String) extends MicroBatchStream {
  private def dir = Paths.get(path)

  /** ST6 — earliest / fromBeginning. */
  override def initialOffset(): Offset = GraftLogOffset(0L)

  override def latestOffset(): Offset =
    GraftLogOffset(GraftLog.segmentCounts(dir).map(_._2).sum)

  override def deserializeOffset(json: String): Offset = GraftLogOffset(json.toLong)

  /** K4 — acknowledge delivery up to `end` (the mark-\Seen analogue).
    * Atomic replace: a crash between batch completion and ack leaves the
    * previous marker — the replayed batch is the at-least-once window. */
  override def commit(end: Offset): Unit = {
    val tmp = Files.createTempFile(dir, ".tmp-", ".committed.part")
    Files.write(tmp, end.asInstanceOf[GraftLogOffset].n.toString
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(".committed"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GraftLogOffset].n
    val hi = end.asInstanceOf[GraftLogOffset].n
    val out = Array.newBuilder[InputPartition]
    var base = 0L
    GraftLog.segmentCounts(dir).foreach { case (p, n) =>
      val segLo = math.max(lo, base)
      val segHi = math.min(hi, base + n)
      if (segHi > segLo)
        out += GraftLogPartition(p.toString, segLo - base, segHi - segLo, segLo)
      base += n
    }
    out.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val gp = partition.asInstanceOf[GraftLogPartition]
      new PartitionReader[InternalRow] {
        private val lines = Files.lines(Paths.get(gp.file))
        // Long-safe skip/take (Iterator.slice takes Int and would wrap
        // negative past 2^31 lines, silently misreading the range)
        private val it = {
          val base = lines.iterator().asScala
          var skipped = 0L
          while (skipped < gp.skipLines && base.hasNext) { base.next(); skipped += 1 }
          base
        }
        private var remaining = gp.takeLines
        private var i = 0L
        private var current: InternalRow = _
        override def next(): Boolean =
          if (remaining <= 0 || !it.hasNext) false
          else {
            val bytes = Base64.getDecoder.decode(it.next())
            current = new GenericInternalRow(
              Array[Any](gp.firstOffset + i, bytes))
            i += 1
            remaining -= 1
            true
          }
        override def get(): InternalRow = current
        override def close(): Unit = lines.close()
      }
    }

  override def stop(): Unit = ()
}
