package perfbench

import java.nio.file.Path
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.dataflow.spark.Graft
import graft.dataflow.spark.actions._
import graft.storage.{AuditTable, AuditTableInfo, Storage}
import graft.storage.StorageActions._

/** Two audit tables fed by seeded delta batches.
  *
  * `orders` (PK `o_orderkey`) has no bloom sidecars; `lineitem` (PK
  * `l_orderkey,l_linenumber`) has `pkBloom=true`, so point lookups use the
  * sidecars on one table and scan on the other. After a full load, each
  * round ingests [[BatchesPerRound]] delta batches through
  * `getOrCreateAuditTable`/`writeToStorage` flows, then runs `snapshot`,
  * `allBetween` and `snapshotPoint` reads of both tables (hot regions still
  * present, so the sidecars can prune) and compacts both tables. Every read
  * is checked against a model the benchmark keeps of the rows it generated. */
final class AuditIngest(seed: Long) extends Workload {
  import AuditIngest._

  private val rnd = new java.util.SplittableRandom(seed ^ 0xa0d17L)
  private val tables = Seq(Orders, Lineitem)
  private val model = tables.map(t => t.name -> new Model(t)).toMap
  private val usedTs = mutable.HashSet.empty[Long]
  private var userBytes = 0L
  private var batchNo = 0
  private var prevRead: Long = T0

  def openInputs(spark: SparkSession, dataDir: Path): Unit = ()

  private def base(ctx: RunCtx) = ctx.workDir.resolve("audit-store")

  /** A timestamp in [lo, hi) µs that no other generated row carries, so
    * "latest row per key" is never a tie. */
  private def freshTs(lo: Long, hi: Long): Long = {
    var t = lo + rnd.nextLong(hi - lo)
    while (usedTs.contains(t)) t = lo + rnd.nextLong(hi - lo)
    usedTs += t
    t
  }

  /** Generates batch `b`: the full load when `b` is 0, else updates to
    * existing keys, new keys and late rows stamped before the previous read. */
  private def generate(t: TableDef, b: Int, now: Long): Seq[Vector[Any]] = {
    val m = model(t.name)
    if (b == 0) {
      (0L until t.baseKeys).flatMap(k => t.rows(rnd, k, () => freshTs(T0 - 30 * Day, T0)))
    } else {
      val keys = m.keys
      val n = keys.size
      val updates = (0 until (n * 0.04).toInt).map(_ => keys(rnd.nextInt(n)))
        .distinct.map(k => t.update(rnd, k, freshTs(now - Day, now)))
      val fresh = (0 until (t.baseKeys * 0.01).toInt).flatMap { _ =>
        m.nextKey += 1
        t.rows(rnd, m.nextKey, () => freshTs(now - Day, now))
      }
      val lateHi = math.max(prevRead - Day, T0 - 29 * Day)
      val late = (0 until (n * 0.005).toInt).map(_ => keys(rnd.nextInt(n)))
        .distinct.map(k => t.update(rnd, k, freshTs(T0 - 30 * Day, lateHi)))
      updates ++ fresh ++ late
    }
  }

  private def writeInput(ctx: RunCtx, t: TableDef, rows: Seq[Vector[Any]], b: Int): Path = {
    val p = ctx.workDir.resolve(s"audit-input/${t.name}/batch_$b")
    ctx.spark.createDataFrame(rows.map(r => Row.fromSeq(r)).asJava, t.schema)
      .coalesce(1).write.parquet(p.toString)
    userBytes += FlowLayer.du(p)
    p
  }

  private def info(t: TableDef) =
    AuditTableInfo(t.name, t.pk, if (t.bloom) Map(AuditTable.PkBloomKey -> "true") else Map.empty,
      retainHistory = false)

  /** One batch: inputs are generated and written untimed; the ingest flow is
    * timed. Returns the ingest flow run. */
  private def ingest(ctx: RunCtx, traced: Boolean): Option[FlowLayer.FlowRun] = {
    val b = batchNo
    batchNo += 1
    val now = T0 + b * Day
    val inputs = tables.map { t =>
      val rows = generate(t, b, now)
      model(t.name).append(rows)
      t.name -> writeInput(ctx, t, rows, b)
    }.toMap
    val store = base(ctx).toString
    ctx.op(s"audit/ingest/$b")(FlowLayer.run(ctx, traced) {
      tables.foldLeft(Graft.sparkFlow(ctx.spark, ctx.workDir.resolve("audit-tmp").toString)
        .getOrCreateAuditTable(store, name => info(tables.find(_.name == name).get))(
          tables.map(_.name): _*)) { (f, t) =>
        f.openFileParquet(inputs(t.name).toString, t.name)
          .writeToStorage(t.name, Some("upd_ts"), new Timestamp(now / 1000))
      }
    })
  }

  private def timedSpan[T](ctx: RunCtx, name: String, kind: String)(f: => T): (T, Double) =
    FlowLayer.timed(ctx.tracer.span(Some(ctx.spark.sparkContext), name, kind)(f))

  /** Reads after a batch: open, full snapshot, a time range and a point
    * lookup per table, each checked against the model. */
  private def reads(ctx: RunCtx, samples: Samples): Unit = {
    val now = T0 + (batchNo - 1) * Day
    val nowTs = micros(now)
    prevRead = now
    tables.foreach { t =>
      val m = model(t.name)
      val cols = t.schema.fieldNames.map(col).toSeq
      ctx.op(s"audit/read/${t.name}/${batchNo - 1}") {
        val (table, openS) = timedSpan(ctx, s"open:${t.name}", "storage.open")(
          Storage.openTable(ctx.spark, base(ctx).toString, t.name).get)
        samples.add("storage.open_s", openS)
        samples.add("storage.regions_active", table.activeRegions.size)

        val (snap, snapS) = timedSpan(ctx, s"snapshot:${t.name}", "storage.snapshot")(
          table.snapshot(nowTs).get.select(cols: _*).collect())
        samples.add("audit.snapshot_read_s", snapS)
        ctx.check(s"audit/snapshot/${t.name}", sameRows(snap, m.snapshot(now)),
          s"snapshot of ${t.name} at $nowTs differs from the model")

        val lo = now - 2 * Day + rnd.nextLong(Day)
        val hi = now - rnd.nextLong(Day / 2)
        val (range, rangeS) = timedSpan(ctx, s"allBetween:${t.name}", "storage.all_between")(
          table.allBetween(Some(micros(lo)), Some(micros(hi))).get.select(cols: _*).collect())
        samples.add("audit.range_read_s", rangeS)
        ctx.check(s"audit/range/${t.name}", sameRows(range, m.between(lo, hi)),
          s"allBetween of ${t.name} differs from the model")

        val keys = m.probeKeys(rnd, PointKeys)
        val (points, pointS) = timedSpan(ctx, s"snapshotPoint:${t.name}", "storage.point_lookup")(
          table.snapshotPoint(nowTs, keys).map(_.select(cols: _*).collect()).getOrElse(Array.empty[Row]))
        samples.add("audit.point_lookup_s", pointS)
        samples.add(s"storage.point_lookup_s.${t.lookupKind}", pointS)
        samples.lookupRows(t.lookupKind, points.length)
        ctx.check(s"audit/point/${t.name}", sameRows(points, m.point(now, keys)),
          s"snapshotPoint of ${t.name} differs from the model")
      }
    }
  }

  private def compact(ctx: RunCtx, handles: Map[String, AuditTable], samples: Samples): Unit = {
    val now = T0 + (batchNo - 1) * Day
    tables.foreach { t =>
      ctx.op(s"audit/compact/${t.name}/${batchNo - 1}") {
        val (table, s) = timedSpan(ctx, s"compact:${t.name}", "storage.compact")(
          handles(t.name).compact(micros(now), trashMaxAgeMs = TrashMaxAgeMs))
        samples.add("audit.compact_s", s)
        samples.add("storage.compact_bytes_rewritten", FlowLayer.du(
          base(ctx).resolve(s"${t.name}/${AuditTable.TypeColumn}=${AuditTable.ColdType}/" +
            s"${AuditTable.RegionColumn}=${table.regions.last.storeRegion}")))
        model(t.name).compact()
      }
    }
  }

  /** Full load, then a one-batch round, so every timed call has run once. */
  def prepare(ctx: RunCtx): Unit = {
    ingest(ctx, traced = false)
    cycle(ctx, traced = false, batches = 1)
  }

  def minRounds: Int = 2

  def round(ctx: RunCtx, r: Int, traced: Boolean): RoundResult =
    cycle(ctx, traced, BatchesPerRound)

  private def cycle(ctx: RunCtx, traced: Boolean, batches: Int): RoundResult = {
    val samples = new Samples
    var execute = 0.0
    var handles = Map.empty[String, AuditTable]
    def tableBytes = tables.map(t => FlowLayer.du(base(ctx).resolve(t.name))).sum
    for (_ <- 0 until batches) {
      val (before, bytesIn) = (tableBytes, userBytes)
      ingest(ctx, traced).foreach { run =>
        execute += run.executeS
        samples.add("audit.append_batch_s", run.buildS + run.executeS)
        samples.add("storage.write_amp",
          (tableBytes - before).toDouble / math.max(1L, userBytes - bytesIn))
        if (traced) samples.layers ++= run.layers
        handles = tables.map(t =>
          t.name -> run.result.inputs.get[AuditTable](s"${t.name}_appended")).toMap
      }
    }
    reads(ctx, samples)
    if (handles.size == tables.size) compact(ctx, handles, samples)
    samples.add("storage.bytes_stored_per_user_byte",
      FlowLayer.du(base(ctx)).toDouble / math.max(1L, userBytes))
    samples.add("storage.trash_bytes", FlowLayer.du(base(ctx).resolve(".Trash")))

    val roundS = Seq("audit.append_batch_s", "audit.snapshot_read_s", "audit.range_read_s",
      "audit.point_lookup_s", "audit.compact_s").map(k => samples.get(k).sum).sum +
      samples.get("storage.open_s").sum
    val layers = if (!traced) Map.empty[String, Double] else {
      val spans = ctx.tracer.ofTrace(ctx.tracer.trace)
      def secs(kind: String) = spans.filter(_.kind == kind).map(_.seconds)
      val appends = spans.filter(_.name.startsWith("writeToStorage:")).map(_.seconds)
      val spark = FlowLayer.sparkMetrics(ctx, roundS) // drains the listener bus first
      val scanned = LookupKinds.map { kind =>
        val ids = spans.filter(s => s.kind == "storage.point_lookup" &&
          tables.exists(t => t.lookupKind == kind && s.name == s"snapshotPoint:${t.name}")).map(_.id)
        val records = ids.flatMap(id => ctx.listener.flatMap(_.group(id))).map(_.inputRecords.get).sum
        s"storage.rows_scanned_per_row_returned.$kind" ->
          records.toDouble / math.max(1, samples.returned(kind))
      }
      samples.layers.toMap ++ spark ++ scanned ++ Map(
        "storage.append_s_p50" -> Stats.quantile(appends, 0.5),
        "storage.append_s_p90" -> Stats.quantile(appends, 0.9),
        "storage.compact_s" -> secs("storage.compact").sum,
        "storage.snapshot_s" -> Stats.median(secs("storage.snapshot")),
        "storage.all_between_s" -> Stats.median(secs("storage.all_between"))) ++
        Seq("storage.open_s", "storage.write_amp", "storage.bytes_stored_per_user_byte",
          "storage.regions_active", "storage.trash_bytes", "storage.compact_bytes_rewritten",
          "storage.point_lookup_s.bloom", "storage.point_lookup_s.scan")
          .map(k => k -> Stats.median(samples.get(k)))
    }
    RoundResult(roundS, execute, layers, samples.detail)
  }
}

object AuditIngest {
  val Day: Long = 86400L * 1000000L
  /** 2024-01-01T00:00:00Z in µs: the first delta batch is stamped here. */
  val T0: Long = 1704067200L * 1000000L
  val BatchesPerRound = 2
  val PointKeys = 12
  val TrashMaxAgeMs: Long = 2 * 86400L * 1000L
  val LookupKinds = Seq("bloom", "scan")

  def micros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Per-round samples: detail timings, storage figures and lookup sizes. */
  final class Samples {
    private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    private val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val layers = mutable.Map.empty[String, Double]
    def add(k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    def get(k: String): Seq[Double] = m.get(k).map(_.toSeq).getOrElse(Nil)
    def lookupRows(kind: String, n: Int): Unit = rows(kind) += n
    def returned(kind: String): Long = rows(kind)
    def detail: Map[String, Seq[Double]] =
      m.collect { case (k, v) if k.startsWith("audit.") || k == "storage.bytes_stored_per_user_byte" =>
        k -> v.toSeq }.toMap
  }

  def sameRows(got: Array[Row], want: Seq[Vector[Any]]): Boolean =
    got.length == want.size &&
      got.map(_.toSeq.toVector.toString).sorted.sameElements(want.map(_.toString).sorted)

  /** Column layout, generators and PK of one table. The last column is
    * `upd_ts`, the source last-updated time the table is appended by. */
  trait TableDef {
    def name: String
    def pk: Seq[String]
    def bloom: Boolean
    def schema: StructType
    def baseKeys: Long
    def lookupKind: String = if (bloom) "bloom" else "scan"
    /** Number of PK columns; a row's key is its first `pk.size` values. */
    def key(row: Vector[Any]): Vector[Any] = row.take(pk.size)
    /** All rows of a new entity `k`. */
    def rows(rnd: java.util.SplittableRandom, k: Long, ts: () => Long): Seq[Vector[Any]]
    /** A new version of the row with key `key`. */
    def update(rnd: java.util.SplittableRandom, key: Vector[Any], ts: Long): Vector[Any]
  }

  private def date(rnd: java.util.SplittableRandom) = micros(788918400L * 1000000L + rnd.nextLong(2400) * Day)
  private def price(rnd: java.util.SplittableRandom, lo: Double, hi: Double) =
    math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0

  object Orders extends TableDef {
    val name = "orders"
    val pk = Seq("o_orderkey")
    val bloom = false
    val baseKeys: Long = if (Main.tiny) 400L else 3000L
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType),
      StructField("upd_ts", TimestampType)))
    private val status = Vector("O", "F", "P")
    private val prio = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    def rows(rnd: java.util.SplittableRandom, k: Long, ts: () => Long) =
      Seq(Vector(k, rnd.nextLong(1500), status(rnd.nextInt(3)), price(rnd, 1000, 500000),
        date(rnd), prio(rnd.nextInt(5)), micros(ts())))
    def update(rnd: java.util.SplittableRandom, key: Vector[Any], ts: Long) =
      key ++ Vector(rnd.nextLong(1500), status(rnd.nextInt(3)), price(rnd, 1000, 500000),
        date(rnd), prio(rnd.nextInt(5)), micros(ts))
  }

  object Lineitem extends TableDef {
    val name = "lineitem"
    val pk = Seq("l_orderkey", "l_linenumber")
    val bloom = true
    val baseKeys: Long = if (Main.tiny) 400L else 3000L
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType), StructField("upd_ts", TimestampType)))
    private val flags = Vector("A", "N", "R")
    private def body(rnd: java.util.SplittableRandom, ts: Long): Vector[Any] = {
      val qty = (1 + rnd.nextInt(50)).toDouble
      Vector(rnd.nextLong(2000), rnd.nextLong(100), qty, price(rnd, 900, 2100) * qty,
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, flags(rnd.nextInt(3)),
        if (rnd.nextBoolean()) "O" else "F", date(rnd), micros(ts))
    }
    def rows(rnd: java.util.SplittableRandom, k: Long, ts: () => Long) =
      (1 to 1 + rnd.nextInt(7)).map(n => Vector[Any](k, n) ++ body(rnd, ts()))
    def update(rnd: java.util.SplittableRandom, key: Vector[Any], ts: Long) = key ++ body(rnd, ts)
  }

  /** What the table must hold: every stored row version, as the benchmark
    * generated it. Compaction keeps the latest version per key, as
    * `AuditTable.compact` does for a table without history. */
  final class Model(t: TableDef) {
    private var stored = mutable.ArrayBuffer.empty[Vector[Any]]
    private val keySet = mutable.LinkedHashSet.empty[Vector[Any]]
    private var keyVec: Vector[Vector[Any]] = Vector.empty
    var nextKey: Long = t.baseKeys

    private def ts(r: Vector[Any]): Long = {
      val x = r.last.asInstanceOf[Timestamp]
      x.getTime / 1000 * 1000000L + x.getNanos / 1000
    }
    private def latest(rows: Iterable[Vector[Any]]): Seq[Vector[Any]] =
      rows.groupBy(t.key).values.map(_.maxBy(ts)).toSeq

    def append(rows: Seq[Vector[Any]]): Unit = {
      stored ++= rows
      rows.foreach(r => if (keySet.add(t.key(r))) keyVec :+= t.key(r))
    }
    def keys: Vector[Vector[Any]] = keyVec
    def compact(): Unit = stored = mutable.ArrayBuffer.from(latest(stored))
    def snapshot(at: Long): Seq[Vector[Any]] = latest(stored.filter(ts(_) <= at))
    def between(lo: Long, hi: Long): Seq[Vector[Any]] = stored.filter(r => ts(r) >= lo && ts(r) <= hi).toSeq
    def point(at: Long, keys: Seq[Seq[Any]]): Seq[Vector[Any]] = {
      val want = keys.map(_.toVector).toSet
      snapshot(at).filter(r => want.contains(t.key(r)))
    }
    /** Keys to look up: mostly present keys, plus two that never existed. */
    def probeKeys(rnd: java.util.SplittableRandom, n: Int): Seq[Seq[Any]] = {
      val present = (0 until n - 2).map(_ => keyVec(rnd.nextInt(keyVec.size)))
      val absent = Seq(nextKey + 1000, nextKey + 2000).map(k =>
        t.key(t.rows(new java.util.SplittableRandom(k), k, () => 0L).head))
      (present ++ absent).distinct.map(_.toSeq)
    }
  }
}
