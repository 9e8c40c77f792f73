package graftbench

import java.time.LocalDateTime
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.sources.LakeTable

/** `lake_ingest`: one writer and one reader, each a closed loop, on a
  * LakeTable of orders partitioned by priority.
  *
  * The writer applies seeded change batches in cycles of append, MERGE
  * upsert of ~1 % of keys, copy-on-write delete and update, DV-mode
  * deleteMor/updateMor and one compaction. The reader cycles point and
  * range reads (`readPoint`/`readRange`), VERSION AS OF reads
  * (`LakeTable.read`) and a full read through the `graft` DataSource V2
  * table, each pinned to a resolved snapshot version. An in-memory model
  * of the seeded changes gives the expected rows of every version; every
  * read is checked against it after the window, and the final table too.
  */
object LakeIngest extends Workload {
  val initialRows = 12000
  val warmSeconds = 3.0
  val appendRows = 120
  val readPattern = Vector("point", "point", "range", "point", "version", "point", "point", "range",
    "point", "full")
  // One writer cycle. Each change commit touches ~1 % of the keys. A
  // measured window holds whole cycles only, at least one, so that every
  // kind is timed and the mix of kinds (whose rows per second differ) is the
  // same however fast the host is; the deletion-vector commits come early
  // so that the reader reads DV snapshots for most of it.
  val kinds = Vector("append", "delete_mor", "merge", "compact", "update_mor", "delete", "update")

  final case class O(key: Long, cust: Long, status: String, price: Double, date: LocalDateTime, prio: String) {
    def text: String = s"$key|$cust|$status|$price|$date|$prio"
  }
  private def fromRow(r: Row): O = O(r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
    r.getAs[String]("o_orderstatus"), r.getAs[Double]("o_totalprice"),
    r.getAs[LocalDateTime]("o_orderdate"), r.getAs[String]("o_orderpriority"))
  /** Generated rows carry no schema; their fields are in `Gen.orderSchema` order. */
  private def fromGen(r: Row): O = O(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
    r.getAs[LocalDateTime](4), r.getString(5))
  private def toRow(o: O): Row = Row(o.key, o.cust, o.status, o.price, o.date, o.prio)
  def digest(os: Iterable[O]): String = SqlGateway.digest(os.map(o => Seq(o.text)))

  /** The writer: seeded change batches applied to the table and the model alike. */
  final class Writer(spark: SparkSession, path: String, seed: Long, start: Map[Long, O]) {
    private val r = new SplittableRandom(seed * 17 + 3)
    @volatile var model: Map[Long, O] = start
    @volatile var nextKey: Long = start.keys.max + 1
    val versions = new ConcurrentHashMap[Long, Map[Long, O]]()
    versions.put(LakeTable.currentVersion(spark, path).get, model)

    private def df(os: Seq[O]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(os.map(toRow), 1), Gen.orderSchema)
    private def keyRange(width: Int): (Long, Long) = { val lo = r.nextLong(nextKey); (lo, lo + width - 1) }
    private def width: Int = math.max(2, (nextKey / 100).toInt)

    /** Applies commit `kind`; returns the number of rows it changed. */
    def commit(kind: String): Long = Rec.span(s"lake.$kind") {
      def inRange(lo: Long, hi: Long) = model.values.filter(o => o.key >= lo && o.key <= hi)
      val changed: Long = kind match {
        case "append" =>
          val rows = Gen.orderRows(r.nextLong(), appendRows, nextKey).map(fromGen)
          nextKey += appendRows
          LakeTable.append(spark, path, df(rows))
          model ++= rows.map(o => o.key -> o); rows.size
        case "merge" =>
          val live = model.keys.toIndexedSeq
          val upd = Seq.fill(math.max(1, live.size / 100))(live(r.nextInt(live.size))).distinct
            .map(k => model(k).copy(price = math.round(100000 + r.nextDouble() * 49900000) / 100.0, status = "M"))
          val ins = Gen.orderRows(r.nextLong(), upd.size / 4 + 1, nextKey).map(fromGen)
          nextKey += ins.size
          val src = upd ++ ins
          LakeTable.merge(spark, path, df(src), "o_orderkey")
          model ++= src.map(o => o.key -> o); src.size
        case "delete" | "delete_mor" =>
          val (lo, hi) = keyRange(width)
          val hit = inRange(lo, hi).map(_.key).toSeq
          val p = col("o_orderkey").between(lo, hi)
          if (kind == "delete") LakeTable.delete(spark, path, p) else LakeTable.deleteMor(spark, path, p)
          model --= hit; hit.size
        case "update" | "update_mor" =>
          val (lo, hi) = keyRange(width)
          val add = if (kind == "update") 1.0 else 2.0
          val hit = inRange(lo, hi).toSeq
          val p = col("o_orderkey").between(lo, hi)
          val set = Map("o_totalprice" -> (col("o_totalprice") + lit(add)))
          if (kind == "update") LakeTable.update(spark, path, p, set)
          else LakeTable.updateMor(spark, path, p, set)
          model ++= hit.map(o => o.key -> o.copy(price = o.price + add)); hit.size
        case "compact" =>
          LakeTable.compact(spark, path, 5); 0L
      }
      versions.put(LakeTable.currentVersion(spark, path).get, model)
      changed
    }
  }

  /** Every file under `path`. */
  def listing(spark: SparkSession, path: String): Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
    val p = new Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val out = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
    while (it.hasNext) out += it.next()
    out.result()
  }
  def bytesUnder(spark: SparkSession, path: String, parquetOnly: Boolean): Long =
    listing(spark, path).filter(f => !parquetOnly || f.getPath.getName.endsWith(".parquet")).map(_.getLen).sum

  final case class Read(kind: String, version: Long, lo: Long, hi: Long, got: String)

  /** One read of the reader's cycle, pinned to a resolved version. */
  def read(spark: SparkSession, path: String, w: Writer, r: SplittableRandom, kind: String,
      trace: Boolean): Read = {
    val v = Rec.span("lake.snapshot")(LakeTable.currentVersion(spark, path).get)
    val lo = r.nextLong(w.nextKey)
    val (df, ver, hi) = kind match {
      case "point" => (LakeTable.readPoint(spark, path, "o_orderkey", lo, Some(v)), v, lo)
      case "range" => (LakeTable.readRange(spark, path, "o_orderkey", lo, lo + 60, Some(v)), v, lo + 60)
      case "version" =>
        val vs = w.versions.keySet.asScala.filter(_ <= v).toIndexedSeq.sorted
        val old = vs(r.nextInt(vs.size))
        (LakeTable.read(spark, path, Some(old)).where(col("o_orderkey").between(lo, lo + 400)), old, lo + 400)
      // The full read goes through the DataSource V2 table (GraftTableV2).
      case "full" => (spark.read.format("graft").option("version", v.toString).load(path), v, Long.MaxValue)
    }
    val rows = Rec.span("scan.exec", kind)(df.collect())
    if (trace) {
      Rec.add("scan.reads", 1)
      val plan = df.queryExecution.executedPlan
      if (Main.rowPath(plan)) Rec.add("scan.row_path", 1)
      Main.nodes(plan).map(_.getClass.getSimpleName).distinct.foreach(n => Rec.add(s"scan.$kind.node.$n", 1))
      if (kind == "point" || kind == "range") {
        val read = Main.nodes(plan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
        Rec.add("scan.files_read", read.toDouble)
        Rec.add("scan.files_live", LakeTable.dataFiles(spark, path, Some(ver)).size.toDouble)
      }
    }
    Read(kind, ver, if (kind == "full") Long.MinValue else lo, hi, digest(rows.map(fromRow)))
  }

  def expected(w: Writer, rd: Read): Option[String] = Option(w.versions.get(rd.version))
    .map(m => digest(m.values.filter(o => o.key >= rd.lo && o.key <= rd.hi)))

  def create(spark: SparkSession, path: String, rows: Seq[Row]): Unit =
    LakeTable.create(spark, path, spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      Gen.orderSchema), Seq("o_orderpriority"))

  /** Writer and reader closed loops on `path` for `seconds`; with `measure`
    * the writer runs on to the end of its cycle of `kinds`, and the reader
    * until the writer stops. With `measure` every commit and read is timed
    * and every read kept for checking. Returns the table's byte counts after
    * the window, for amplification.
    */
  def loop(spark: SparkSession, path: String, w: Writer, seed: Long, seconds: Double,
      measure: Boolean, trace: Boolean, reads: ConcurrentLinkedQueue[Read]): Map[String, Any] = {
    def timed(kind: String, items: => Double)(f: => Unit): Unit =
      if (measure) Rec.op(kind, items) { f; true } else f
    val bytes0 = bytesUnder(spark, path, parquetOnly = false)
    val bytesPerRow = bytesUnder(spark, path, parquetOnly = true).toDouble / w.model.size
    var changedTotal = 0L
    val end = Rec.now() + seconds
    @volatile var writing = true
    Main.parallel(2) {
      case 0 =>
        var i = 0
        while (Rec.now() < end || (measure && i % kinds.size != 0)) {
          val kind = kinds(i % kinds.size)
          var n = 0L
          val files0 = if (trace) listing(spark, path).size else 0L
          timed(s"lake.commit.$kind", n.toDouble) { n = w.commit(kind) }
          changedTotal += n
          if (trace) {
            Rec.add("lake.rows_changed", n.toDouble)
            if (kind != "compact") Rec.sample("lake.files_written_per_commit", (listing(spark, path).size - files0).toDouble)
          }
          i += 1
        }
        writing = false
      case _ =>
        val r = new SplittableRandom(seed * 17 + 5)
        var i = 0
        while (writing) {
          val kind = readPattern(i % readPattern.size)
          timed(s"lake.read.$kind", 1.0) { reads.add(read(spark, path, w, r, kind, trace)) }
          i += 1
        }
    }
    // Amplification over the whole window, read after its last commit.
    Map("bytes_written" -> (bytesUnder(spark, path, parquetOnly = false) - bytes0),
      "change_bytes" -> changedTotal * bytesPerRow, "bytes_per_row" -> bytesPerRow,
      "stored_bytes" -> bytesUnder(spark, path, parquetOnly = true),
      "live_bytes" -> LakeTable.dataFiles(spark, path).map { f =>
        val p = new Path(f); p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
      }.sum)
  }

  def run(spark: SparkSession, ctx: Ctx): Map[String, Any] = {
    val lake = s"${ctx.work}/lake"
    // Warm-up: the same two loops on a seed-distinct table, so JIT and
    // codegen are warm while the measured table's state stays cold.
    val warmRows = Gen.orderRows(ctx.warmSeed, initialRows)
    create(spark, s"$lake/warm", warmRows)
    val ww = new Writer(spark, s"$lake/warm", ctx.warmSeed, warmRows.map(fromGen).map(o => o.key -> o).toMap)
    loop(spark, s"$lake/warm", ww, ctx.warmSeed, warmSeconds, measure = false, trace = false,
      new ConcurrentLinkedQueue[Read])
    Rec.phase("warm")

    val rows = Gen.orderRows(ctx.seed, initialRows)
    Main.setupReps(3)(i => create(spark, s"$lake/t$i", rows))
    val path = s"$lake/t2"
    val w = new Writer(spark, path, ctx.seed, rows.map(fromGen).map(o => o.key -> o).toMap)
    val reads = new ConcurrentLinkedQueue[Read]
    val w0 = Main.sparkSnapshot(ctx)
    val amp = loop(spark, path, w, ctx.seed, ctx.seconds, measure = true, ctx.trace, reads)
    val w1 = Main.sparkSnapshot(ctx)

    var checked = 0; var bad = 0
    reads.asScala.foreach { rd =>
      checked += 1
      if (!expected(w, rd).contains(rd.got)) { bad += 1; Rec.fail(s"lake ${rd.kind} read at v${rd.version} differs from the model") }
    }
    checked += 1
    if (digest(LakeTable.read(spark, path).collect().map(fromRow)) != digest(w.model.values)) {
      bad += 1; Rec.fail("final lake table differs from the model")
    }
    Rec.add("check.attempted", checked); Rec.add("check.failed", bad)
    Map("window" -> Map("start" -> w0, "end" -> w1), "lake" -> amp, "initial_rows" -> initialRows)
  }
}
