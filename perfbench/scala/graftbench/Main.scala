package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** What a workload is given. `work` is this run's private scratch
  * directory; inputs are generated under it from `seed`, and warm-up
  * inputs from a seed no measured run uses.
  */
final case class Ctx(work: String, seed: Long, seconds: Double, trace: Boolean) {
  /** Spark's local cores and the widest client pool: what the JVM may use. */
  val cores: Int = Runtime.getRuntime.availableProcessors
  def warmSeed: Long = -1L - seed
  def data(tag: String): String = s"$work/data/$tag"
}

trait Workload {
  /** Generates inputs, warms up, sets up, measures and verifies. Returns
    * the workload's own raw fields for `raw.json`.
    */
  def run(spark: SparkSession, ctx: Ctx): Map[String, Any]
}

/** One benchmark run of one workload in a fresh JVM.
  *
  * {{{
  * graftbench.Main --workload <name>[,<name>...] --seed <n> --seconds <s> --trace <0|1>
  *                 --work <dir> --out <raw.json>
  * }}}
  *
  * Writes `raw.json` (every observation of the run) before stopping
  * Spark; a failure while stopping goes to stderr and does not change
  * the exit code.
  */
object Main {
  val workloads: Map[String, Workload] = Map(
    "sql_gateway" -> SqlGateway, "lake_ingest" -> LakeIngest, "curation_stream" -> CurationStream)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // Several comma-separated workloads run one after another in this JVM,
    // each in its own subdirectory of `work` (how the runner trains its
    // class-data archive); their observations are not kept apart.
    val names = a("workload").split(",").toSeq
    val wls = names.map(n => n -> workloads.getOrElse(n, sys.error(s"unknown workload $n")))
    def ctx(n: String) = Ctx(if (names.size == 1) a("work") else s"${a("work")}/$n", a("seed").toLong,
      a("seconds").toDouble, a("trace") == "1")
    val c0 = ctx(names.head)
    val t0 = Rec.now()
    val spark = graft.GraftSession.builder(s"local[${c0.cores}]", c0.cores)
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .config("spark.local.dir", s"${a("work")}/local")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.checkpoint.dir", s"${a("work")}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Rec.sc = spark.sparkContext
    if (c0.trace) {
      spark.sparkContext.addSparkListener(new Rec.Listener)
      spark.streams.addListener(new Rec.StreamListener)
    }
    val heap0 = usedHeapMb()
    val sessionS = Rec.now() - t0
    Rec.phase("session up")
    val extra = wls.foldLeft(Map.empty[String, Any]) { case (acc, (n, wl)) =>
      acc ++ (try wl.run(spark, ctx(n)) catch {
        case scala.util.control.NonFatal(e) =>
          Rec.fail(s"workload aborted: $e"); e.printStackTrace(); Map.empty[String, Any]
      })
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val storageMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    val heap1 = usedHeapMb()
    val raw = Rec.raw(extra ++ Map("workload" -> a("workload"), "seed" -> c0.seed, "trace" -> c0.trace,
      "cores" -> c0.cores, "session_s" -> sessionS, "heap_start_mb" -> heap0,
      "heap_end_mb" -> heap1, "storage_mb" -> storageMb,
      "persisted_rdds_end" -> spark.sparkContext.getPersistentRDDs.size))
    Files.write(Paths.get(a("out")), Rec.json(raw).getBytes(UTF_8))
    Rec.phase("results written")
    try spark.stop()
    catch { case scala.util.control.NonFatal(e) => System.err.println(s"[perfbench] spark.stop failed: $e") }
    System.exit(0)
  }

  def usedHeapMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1e6
  }

  /** Median of `reps` timed calls of `f(i)`, each recorded as a `setup_s` sample. */
  def setupReps(reps: Int)(f: Int => Unit): Unit = {
    Rec.phase("set-up")
    (0 until reps).foreach { i =>
      val s = Rec.now(); f(i); Rec.sample("setup_s", Rec.now() - s)
    }
  }

  /** Spark task counters of the whole run, for the window between two
    * snapshots. The first snapshot of the window also switches tracing on
    * for traced runs, so warm-up and set-up leave no spans.
    */
  def sparkSnapshot(ctx: Ctx): Map[String, Double] = {
    Rec.trace = ctx.trace
    Rec.phase("window edge")
    org.apache.spark.PerfbenchBus.drain(Rec.sc)
    Rec.tally("all").snapshot + ("t" -> Rec.now())
  }

  /** Every node of an executed plan, looking through adaptive execution. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Whether a plan reads through the row path (a V1 row scan or a
    * deserialization to objects) rather than columnar scans alone.
    */
  def rowPath(p: SparkPlan): Boolean = nodes(p).exists(n =>
    Set("RowDataSourceScanExec", "DeserializeToObjectExec")(n.getClass.getSimpleName))

  /** `f` over `xs` on `n` threads, results in order. */
  def parMap[A, B](xs: Seq[A], n: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  /** Run `body` on `n` threads and join them. */
  def parallel(n: Int)(body: Int => Unit): Unit = {
    val ts = (0 until n).map(i => new Thread(() => body(i), s"perfbench-client-$i"))
    ts.foreach(_.start()); ts.foreach(_.join())
  }
}
