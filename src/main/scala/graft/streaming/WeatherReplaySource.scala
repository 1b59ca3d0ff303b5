package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.stream.Collectors

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** First-class DataSource-V2 micro-batch source for the reference's
  * polled-API ingestion (weather-etl.py:46,111,116-119): every 5
  * minutes the reference GETs one JSON document per city; here each
  * poll cycle is one recorded "tick" and each micro-batch replays
  * exactly `maxTicksPerBatch` ticks (default 1 — the poll cadence).
  *
  * Layout: `<path>/tick=<n>/<city>.json`, one payload file per
  * (poll cycle, city).
  *
  * Scale design — the reason this exists instead of a driver-side
  * fetch + file drop: offsets are TICK COUNTS and InputPartitions
  * carry (city, file path) lists — never payload rows — so the driver
  * ships O(#cities) strings per batch and executors read the payloads.
  * There is one partition per tick, not per file: a tick is about a
  * dozen small files, so per-task scheduling and launch overhead
  * dominates reading them, and one task per tick reads the whole poll
  * cycle in one go. A multi-tick batch (a backfill) still gets one
  * partition per tick, so it reads its ticks in parallel. Admission
  * control caps ticks per batch, so a replay of a month of recorded
  * polls runs as bounded micro-batches instead of one giant catch-up
  * batch; Trigger.AvailableNow drains to the tick count observed at
  * query start and stops.
  *
  * Output schema: (tick BIGINT, city STRING, body STRING) — `body`
  * feeds [[WeatherIngest.transform]] unchanged.
  */
object WeatherReplaySource {
  val schema: StructType = StructType(Seq(
    StructField("tick", LongType, nullable = false),
    StructField("city", StringType, nullable = false),
    StructField("body", StringType, nullable = true)))

  private[streaming] def tickDirs(root: String): Seq[(Long, Path)] = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val dirs = Files.list(p).collect(Collectors.toList[Path]).asScala
      dirs.flatMap { d =>
        val n = d.getFileName.toString
        if (Files.isDirectory(d) && n.startsWith("tick="))
          n.stripPrefix("tick=").toLongOption.map(_ -> d)
        else None
      }.sortBy(_._1).toSeq
    }
  }

  /** Ticks available for replay: contiguous-from-0 prefix count (a
    * partially written tick=N+1 while tick=N is absent is not served).
    */
  private[streaming] def availableTicks(root: String): Long = {
    val present = tickDirs(root).map(_._1).toSet
    var n = 0L
    while (present.contains(n)) n += 1
    n
  }
}

class WeatherReplayProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WeatherReplaySource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "weather-replay source requires option 'path'")
    val maxTicks = Option(properties.get("maxticksperbatch"))
      .orElse(Option(properties.get("maxTicksPerBatch"))).map(_.toLong).getOrElse(1L)
    require(maxTicks > 0, s"maxTicksPerBatch must be positive, got $maxTicks")
    new WeatherReplayTable(path, maxTicks)
  }
}

class WeatherReplayTable(path: String, maxTicks: Long) extends Table with SupportsRead {
  override def name(): String = s"weather_replay($path)"
  override def schema(): StructType = WeatherReplaySource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = WeatherReplaySource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new WeatherReplayStream(path, maxTicks)
      }
    }
}

/** Offset = number of fully replayed ticks. */
case class TickOffset(ticks: Long) extends Offset {
  override def json: String = ticks.toString
}

class WeatherReplayStream(path: String, maxTicks: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // AvailableNow contract: drain to the tick count seen at prepare
  // time, then stop — ticks landing mid-drain wait for the next run.
  private var availableAtPrepare: Long = -1L

  override def prepareForTriggerAvailableNow(): Unit = {
    availableAtPrepare = WeatherReplaySource.availableTicks(path)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val avail =
      if (availableAtPrepare >= 0) availableAtPrepare
      else WeatherReplaySource.availableTicks(path)
    TickOffset(math.min(avail, start.asInstanceOf[TickOffset].ticks + maxTicks))
  }

  override def reportLatestOffset(): Offset =
    TickOffset(WeatherReplaySource.availableTicks(path))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def initialOffset(): Offset = TickOffset(0L)

  override def deserializeOffset(json: String): Offset = TickOffset(json.toLong)

  /** One partition per tick in (start, end] that has payload files,
    * carrying that tick's (city, path) list in file-name order — paths
    * only; executors read the bytes.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TickOffset].ticks
    val e = end.asInstanceOf[TickOffset].ticks
    (s until e).flatMap { tick =>
      val dir = Paths.get(path, s"tick=$tick")
      val files =
        if (!Files.isDirectory(dir)) Seq.empty
        else Files.list(dir).collect(Collectors.toList[Path]).asScala.toSeq
          .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".json"))
          .sortBy(_.getFileName.toString)
          .map(f => f.getFileName.toString.stripSuffix(".json") -> f.toAbsolutePath.toString)
      if (files.isEmpty) None else Some(WeatherTickPartition(tick, files): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = WeatherReplayReaderFactory

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** One tick's payload files as (city, path), in file-name order. */
case class WeatherTickPartition(tick: Long, files: Seq[(String, String)])
  extends InputPartition

object WeatherReplayReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WeatherTickPartition]
    new PartitionReader[InternalRow] {
      private val files = p.files.iterator
      private var row: InternalRow = _
      override def next(): Boolean = files.hasNext && {
        val (city, file) = files.next()
        val body = new String(Files.readAllBytes(Paths.get(file)),
          java.nio.charset.StandardCharsets.UTF_8)
        row = new GenericInternalRow(Array[Any](
          p.tick, UTF8String.fromString(city), UTF8String.fromString(body)))
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
