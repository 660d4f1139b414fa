package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.dataflow.spark.{Graft, ParquetDataCommitter, SparkDataFlow}
import graft.dataflow.spark.actions._
import graft.dataflow.spark.commit._

/** Gate queries as one `SparkDataFlow`: every query is an `open` action on
  * one of three execution pools, the second wave waits on the first through
  * a tag dependency, and the flow ends in a commit of every label to
  * `ParquetDataCommitter` with a snapshot folder and cleanup. The seed picks
  * each query's pool; the program sees only the generated tables. */
final class GateFlow(seed: Long) extends Workload {
  import GateFlow._

  private val rnd = new java.util.SplittableRandom(seed ^ 0x9a7eL)
  private val poolOf: Map[String, String] =
    (Wave1 ++ Wave2).map(q => q -> Pools(rnd.nextInt(Pools.size))).toMap
  private var lastSnap = ""

  def openInputs(spark: SparkSession, dataDir: Path): Unit =
    Tables.foreach(t => spark.read.parquet(dataDir.resolve(s"$t.parquet").toString).schema)

  private def commitBase(ctx: RunCtx) = ctx.workDir.resolve("gate-out")
  private def snap(r: Int) = f"snap_$r%06d"

  private def build(ctx: RunCtx, r: Int, traced: Boolean): SparkDataFlow = {
    val dir = ctx.dataDir.toString
    val plain = ParquetDataCommitter(commitBase(ctx).toString)
      .snapshotFolder(snap(r)).dateBasedSnapshotCleanup(KeepSnapshots)
    val committer = if (traced) new TracedCommitter(plain, ctx.tracer) else plain
    def addQueries(flow: SparkDataFlow, qs: Seq[String]) = qs.foldLeft(flow) { (f, q) =>
      f.executionPool(poolOf(q))(_.open(q)(c => SparkEntry.queries(q)(c.spark, dir)))
    }
    Graft.sparkFlow(ctx.spark, ctx.workDir.resolve("gate-tmp").toString)
      .tag("wave1")(addQueries(_, Wave1))
      .tagDependency("wave1")(addQueries(_, Wave2))
      .commit("gate")(Wave1 ++ Wave2: _*)
      .push("gate")(committer)
  }

  private def flowRound(ctx: RunCtx, r: Int, traced: Boolean): RoundResult = {
    val run = ctx.op(s"gate_flow/${snap(r)}")(FlowLayer.run(ctx, traced)(build(ctx, r, traced)))
    run.foreach(_ => lastSnap = snap(r))
    val roundS = run.map(f => f.buildS + f.executeS).getOrElse(0.0)
    val layers = run.filter(_ => traced).map { f =>
      val spans = ctx.tracer.ofTrace(ctx.tracer.trace)
      def busy(kind: String) = spans.filter(_.kind == kind).map(_.seconds).sum
      val written = (Wave1 ++ Wave2).map(q =>
        FlowLayer.du(commitBase(ctx).resolve(q).resolve(snap(r)))).sum
      val spark = FlowLayer.sparkMetrics(ctx, roundS) // drains the listener bus first
      val operators = (Wave1 ++ Wave2).flatMap { q =>
        val own = spans.filter(s => s.name == s"open:$q" || s.name == s"commitStage:gate/$q")
        val groups = own.flatMap(s => ctx.listener.flatMap(_.group(s.id)))
        val id = q.takeWhile(_ != '_')
        Seq(
          s"operators.$id.busy_s" -> own.map(_.seconds).sum,
          s"operators.$id.task_s" -> groups.map(_.runMs.get).sum / 1000.0,
          s"operators.$id.shuffle_bytes" -> groups.map(_.shuffleWrite.get.toDouble).sum)
      }
      f.layers ++ spark ++ operators ++ Map(
        "actions.open_s" -> busy("actions.open"),
        "commit.stage_s" -> busy("commit.stage"),
        "commit.move_s" -> busy("commit.move"),
        "commit.cleanup_s" -> busy("commit.cleanup"),
        "commit.bytes_written" -> written.toDouble)
    }.getOrElse(Map.empty)
    RoundResult(roundS, run.map(_.executeS).getOrElse(0.0), layers)
  }

  /** One untimed flow first: the first flow in a JVM pays class loading,
    * code generation and JIT, which later flows do not. The caller computes
    * the DuckDB oracle of every label meanwhile, from `oracle_sql.json`, and
    * writes `oracle_done` when it has finished, so no oracle work overlaps a
    * measured round. */
  def prepare(ctx: RunCtx): Unit = {
    val sql = ctx.workDir.resolve("oracle_sql.json.tmp")
    Files.writeString(sql, Json.write((Wave1 ++ Wave2).map(q => q -> SparkEntry.oracleSql(q)).toMap))
    Files.move(sql, ctx.workDir.resolve("oracle_sql.json"), StandardCopyOption.ATOMIC_MOVE)
    flowRound(ctx, 0, traced = false)
    val done = ctx.workDir.resolve("oracle_done")
    val deadline = System.nanoTime() + OracleWaitNs
    while (!Files.exists(done) && System.nanoTime() < deadline) Thread.sleep(50)
  }

  def round(ctx: RunCtx, r: Int, traced: Boolean): RoundResult = flowRound(ctx, r + 1, traced)

  def minRounds: Int = MinRounds

  override def artifact(ctx: RunCtx): Map[String, Any] = Map("gate" -> Map(
    "commit_base" -> commitBase(ctx).toString,
    "snapshot" -> lastSnap,
    "labels" -> (Wave1 ++ Wave2),
    "pools" -> poolOf))
}

object GateFlow {
  /** Heavy gate rows, one per kernel family. The first wave (MinHash, CDC
    * chunking, BM25) builds lazy plans; the second wave (BPE, the
    * audit-table dedup index, entity resolution) does eager driver-side
    * work in its `open` actions. Six queries keep a warm round near eight
    * seconds, so a run fits a warm-up flow and three measured rounds.
    * q134–q136 and q150–q155 are left out because they need a prewarm.
    * q01, q02 and q03 are left out because their checks fail for some
    * seeds: each rounds a sum of prices to cents as a double, and where the
    * exact sum ends on a half cent Spark and DuckDB round it differently. */
  val Wave1: Seq[String] = Seq("q18_minhash_lsh_pairs", "q100_chunk_version_diff",
    "q157_bm25_retrieval")
  val Wave2: Seq[String] = Seq("q102_bpe_learn", "q103_incremental_dedup",
    "q121_entity_resolution")
  val Pools: Seq[String] = Seq("gate-a", "gate-b", "gate-c")
  val Tables: Seq[String] =
    Seq("lineitem", "orders", "customer", "nation", "events", "documents", "part")
  val KeepSnapshots = 2
  val MinRounds = 3
  val OracleWaitNs: Long = 120L * 1000000000L
}
