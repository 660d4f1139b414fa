package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.dataflow.spark.{Graft, SparkAction, SparkDataFlow}

/** A thousand actions that do no Spark work, in fan-out/fan-in layers on
  * four execution pools, with a tag dependency every few layers. All of the
  * time is in the dataflow layer: building the DAG and scheduling it. The
  * seed draws each action's inputs and its pool; the number of actions and
  * the layer widths are fixed, so every seed does the same amount of work. */
final class WideDag(seed: Long) extends Workload {
  import WideDag._

  private val rnd = new java.util.SplittableRandom(seed ^ 0xda6L)

  private val widths: Vector[Int] = Vector.fill(Layers)(Actions / Layers)
  private val firstId: Vector[Int] = widths.scanLeft(0)(_ + _).init

  /** The nodes: id, layer, the ids it reads and its pool. */
  private val nodes: Vector[Node] = widths.indices.flatMap { l =>
    (0 until widths(l)).map { i =>
      val id = firstId(l) + i
      val ins =
        if (l == 0) Vector.empty
        else Vector.fill(1 + rnd.nextInt(MaxFanIn))(firstId(l - 1) + rnd.nextInt(widths(l - 1))).distinct
      Node(id, l, ins, s"dag-${rnd.nextInt(Pools)}")
    }
  }.toVector

  /** The value every label must hold, computed without the program. */
  private val expected: Vector[Long] = nodes.foldLeft(Vector.empty[Long]) { (vals, n) =>
    vals :+ value(n, n.ins.map(vals))
  }

  private def label(id: Int) = s"n$id"

  def openInputs(spark: SparkSession, dataDir: Path): Unit = ()

  private def build(ctx: RunCtx): SparkDataFlow = {
    def addLayer(flow: SparkDataFlow, l: Int): SparkDataFlow =
      nodes.slice(firstId(l), firstId(l) + widths(l)).foldLeft(flow) { (f, n) =>
        f.executionPool(n.pool)(_.addAction(new SparkAction(n.ins.map(label).toList,
          List(label(n.id)), s"node:${n.id}")({ (in, _) =>
          Seq(Some(value(n, n.ins.map(i => in.get[java.lang.Long](label(i)).longValue))))
        })))
      }
    (0 until Layers).foldLeft(Graft.sparkFlow(ctx.spark)) { (f, l) =>
      if (l >= TagEvery && l % TagEvery == 0)
        f.tagDependency(s"layer-${l - TagEvery / 2}")(_.tag(s"layer-$l")(addLayer(_, l)))
      else f.tag(s"layer-$l")(addLayer(_, l))
    }
  }

  private def dagRound(ctx: RunCtx, r: Int, traced: Boolean): RoundResult = {
    val run = ctx.op(s"wide_dag/$r")(FlowLayer.run(ctx, traced)(build(ctx)))
    run.foreach { f =>
      val wrong = nodes.filter(n => f.result.inputs.getOption[java.lang.Long](label(n.id))
        .forall(_.longValue != expected(n.id)))
      ctx.check(s"wide_dag/$r/values", wrong.isEmpty,
        s"${wrong.size} of ${nodes.size} entities differ, first ${wrong.headOption.map(n => label(n.id))}")
    }
    val layers = run.filter(_ => traced).map(f =>
      f.layers ++ FlowLayer.sparkMetrics(ctx, f.buildS + f.executeS)).getOrElse(Map.empty)
    RoundResult(run.map(f => f.buildS + f.executeS).getOrElse(0.0),
      run.map(_.executeS).getOrElse(0.0), layers)
  }

  /** Untimed rounds first, so the JIT has compiled the scheduler paths. */
  def prepare(ctx: RunCtx): Unit = {
    val until = System.nanoTime() + WarmupNs
    var r = 0
    while (r < 5 || System.nanoTime() < until) { r += 1; dagRound(ctx, -r, traced = false) }
  }

  def round(ctx: RunCtx, r: Int, traced: Boolean): RoundResult = dagRound(ctx, r, traced)

  def minRounds: Int = 5

  override def artifact(ctx: RunCtx): Map[String, Any] =
    Map("dag" -> Map("actions" -> nodes.size, "layers" -> Layers,
      "edges" -> nodes.map(_.ins.size).sum))
}

object WideDag {
  val Actions: Int = if (Main.tiny) 120 else 1000
  val Layers: Int = if (Main.tiny) 12 else 25
  val MaxFanIn = 3
  val Pools = 4
  val TagEvery = 4
  val WarmupNs: Long = if (Main.tiny) 0L else 3L * 1000000000L

  final case class Node(id: Int, layer: Int, ins: Vector[Int], pool: String)

  /** SplitMix64 finaliser over the node id and the sum of its inputs. */
  def value(n: Node, inputs: Seq[Long]): Long = {
    var z = inputs.sum + 0x9e3779b97f4a7c15L * (n.id + 1)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
