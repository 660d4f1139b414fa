package graft.dataflow

import scala.annotation.tailrec
import scala.collection.immutable.TreeMap
import scala.util.{Success, Try}

/** The pending actions of a flow in flow order, indexed by guid and by
  * output label. Appending, removing and replacing an action each cost
  * O(log n), so neither building nor executing a flow rescans it. */
final class PendingActions[C <: FlowContext] private (
    bySlot: TreeMap[Int, FlowAction[C]],
    slotOf: Map[String, Int],
    producers: Map[String, FlowAction[C]]) {

  def isEmpty: Boolean = bySlot.isEmpty
  def size: Int = bySlot.size
  def iterator: Iterator[FlowAction[C]] = bySlot.valuesIterator
  def toVector: Vector[FlowAction[C]] = iterator.toVector
  def contains(guid: String): Boolean = slotOf.contains(guid)

  /** The pending action that produces `label`. */
  def producerOf(label: String): Option[FlowAction[C]] = producers.get(label)

  def :+(action: FlowAction[C]): PendingActions[C] = {
    val slot = if (bySlot.isEmpty) 0 else bySlot.lastKey + 1
    new PendingActions(bySlot.updated(slot, action), slotOf.updated(action.guid, slot),
      producers ++ action.outputLabels.map(_ -> action))
  }

  def -(guid: String): PendingActions[C] = slotOf.get(guid).fold(this) { slot =>
    new PendingActions(bySlot - slot, slotOf - guid, producers -- bySlot(slot).outputLabels)
  }

  /** `replacement` takes the flow position of the action with `guid`. */
  def replace(guid: String, replacement: FlowAction[C]): PendingActions[C] = {
    val slot = slotOf(guid)
    new PendingActions(bySlot.updated(slot, replacement),
      (slotOf - guid).updated(replacement.guid, slot),
      producers -- bySlot(slot).outputLabels ++ replacement.outputLabels.map(_ -> replacement))
  }

  def ++(other: PendingActions[C]): PendingActions[C] = other.iterator.foldLeft(this)(_ :+ _)
}

object PendingActions {
  def empty[C <: FlowContext]: PendingActions[C] =
    new PendingActions[C](TreeMap.empty, Map.empty, Map.empty)
}

/** Immutable DAG of named actions over labelled entities.
  *
  * Semantics follow the reference flow state machine
  * (/root/reference/waimak-core/src/main/scala/com/coxautodata/waimak/dataflow/DataFlow.scala:25-513):
  * executed actions leave `pending` and their outputs join `inputs`; tags add
  * control-edges; validation rejects duplicate outputs, unresolvable inputs
  * and label/tag cycles. Encoding is fresh: a single generic state record +
  * an F-bounded trait so concrete flows (Spark) can hook `onExecuted`.
  */
final case class FlowState[C <: FlowContext](
    inputs: FlowEntities,
    pending: PendingActions[C],
    tagState: TagState,
    schedulingMeta: SchedulingMeta,
    executedActions: Vector[FlowAction[C]])

object FlowState {
  def empty[C <: FlowContext]: FlowState[C] =
    FlowState(FlowEntities.empty, PendingActions.empty, TagState.empty, SchedulingMeta.empty,
      Vector.empty)
}

trait DataFlow[Self <: DataFlow[Self, C], C <: FlowContext] { self: Self =>

  def state: FlowState[C]
  def context: C
  protected def withState(s: FlowState[C]): Self

  /** Extensions that get a chance to rewrite the flow before execution
    * (commit expansion, cache planning, data-quality interceptors). Keyed so
    * an extension can replace itself. */
  def extensions: Map[String, FlowExtension[Self, C]]
  protected def withExtensions(e: Map[String, FlowExtension[Self, C]]): Self

  def inputs: FlowEntities = state.inputs
  /** Pending actions in flow order. */
  def actions: Seq[FlowAction[C]] = state.pending.toVector

  // ------------------------------------------------------------- building ---

  def addAction[A <: FlowAction[C]](action: A): Self = {
    require(action.outputLabels.nonEmpty || action.inputLabels.nonEmpty,
      s"Action [${action.actionName}] must have at least one input or output label")
    action.outputLabels.foreach { l =>
      if (l.isEmpty) throw new FlowException(s"Action [${action.actionName}] has an empty output label")
      if (state.inputs.contains(l) || state.pending.producerOf(l).isDefined)
        throw new FlowException(s"Output label [$l] is already defined in the flow")
    }
    withState(state.copy(
      pending = state.pending :+ action,
      tagState = state.tagState.register(action.guid),
      schedulingMeta = state.schedulingMeta.register(action.guid)))
  }

  def addInput(label: String, value: Option[Any]): Self = {
    if (state.inputs.contains(label))
      throw new FlowException(s"Input label [$label] already exists in the flow")
    withState(state.copy(inputs = state.inputs.add(label, value)))
  }

  def map[R](f: Self => R): R = f(self)

  def mapOption[R >: Self](f: Self => Option[R]): R = f(self).getOrElse(self)

  def foldLeftOver[A, S >: Self <: DataFlow[Self, C]](over: Iterable[A])(f: (S, A) => S): S =
    over.foldLeft[S](self)(f)

  // ----------------------------------------------------- tags & scheduling ---

  /** All actions added inside `block` carry `tags`. */
  def tag(tags: String*)(block: Self => Self): Self = {
    val ts = state.tagState
    val tagged = withState(state.copy(tagState = ts.copy(activeTags = ts.activeTags ++ tags)))
    val after = block(tagged)
    after.withState(after.state.copy(
      tagState = after.state.tagState.copy(activeTags = ts.activeTags)))
  }

  /** All actions added inside `block` wait for every action tagged with any
    * of `depTags`. */
  def tagDependency(depTags: String*)(block: Self => Self): Self = {
    val ts = state.tagState
    val dep = withState(state.copy(
      tagState = ts.copy(activeDependsOnTags = ts.activeDependsOnTags ++ depTags)))
    val after = block(dep)
    after.withState(after.state.copy(
      tagState = after.state.tagState.copy(activeDependsOnTags = ts.activeDependsOnTags)))
  }

  /** Generic scoped scheduling-state mutation: every action added inside
    * `block` captures `mutate(currentState)`; the previous state is
    * restored afterwards (reference DataFlow.scala:263-268). Pools are one
    * instance of this; `context` carries anything a custom executor or
    * extension wants per action. */
  def schedulingMeta(mutate: SchedulingMetaState => SchedulingMetaState)(
      block: Self => Self): Self = {
    val prev = state.schedulingMeta.active
    val scoped = withState(state.copy(
      schedulingMeta = state.schedulingMeta.copy(active = mutate(prev))))
    val after = block(scoped)
    after.withState(after.state.copy(
      schedulingMeta = after.state.schedulingMeta.copy(active = prev)))
  }

  /** All actions added inside `block` run on execution pool `poolName`. */
  def executionPool(poolName: String)(block: Self => Self): Self =
    schedulingMeta(_.copy(poolName = Some(poolName)))(block)

  def poolOf(action: FlowAction[C]): String = state.schedulingMeta.poolOf(action.guid)

  def schedulingContextOf(action: FlowAction[C]): Option[Any] =
    state.schedulingMeta.contextOf(action.guid)

  // --------------------------------------------------------- interception ---

  /** Replace the action producing `outputLabel` with `wrap(original)`.
    * The wrapper inherits the original's tag metadata via its guid. */
  def interceptPostOutput(outputLabel: String)(wrap: FlowAction[C] => FlowAction[C]): Self = {
    val target = state.pending.producerOf(outputLabel).getOrElse(
      throw new FlowException(s"No action produces label [$outputLabel]; cannot intercept"))
    replaceAction(target, wrap(target))
  }

  def replaceAction(original: FlowAction[C], replacement: FlowAction[C]): Self = {
    if (!state.pending.contains(original.guid)) throw new FlowException(
      s"Action [${original.actionName}/${original.guid}] not found in the flow")
    val meta = state.tagState.forAction(original.guid)
    val sched = state.schedulingMeta.actionStates.get(original.guid)
    withState(state.copy(
      pending = state.pending.replace(original.guid, replacement),
      tagState = state.tagState.copy(
        perAction = state.tagState.perAction - original.guid + (replacement.guid -> meta)),
      schedulingMeta = state.schedulingMeta.copy(
        actionStates = sched.fold(state.schedulingMeta.actionStates - original.guid)(s =>
          state.schedulingMeta.actionStates - original.guid + (replacement.guid -> s)))))
  }

  // ------------------------------------------------------------ execution ---

  /** State transition after `action` ran producing `outputs` (positional).
    * Concrete flows can observe via [[onExecuted]]. */
  def executed(action: FlowAction[C], outputs: core.ActionResult): Self = {
    if (outputs.size != action.outputLabels.size)
      throw new FlowException(
        s"Action [${action.actionName}] returned ${outputs.size} outputs, " +
          s"expected ${action.outputLabels.size}")
    val newInputs = action.outputLabels.zip(outputs)
      .foldLeft(state.inputs) { case (acc, (l, v)) => acc.add(l, v) }
    val next = withState(state.copy(
      pending = state.pending - action.guid,
      inputs = newInputs,
      executedActions = state.executedActions :+ action))
    next.onExecuted(action, outputs)
  }

  /** Hook for concrete flows (e.g. temp-view registration). */
  protected def onExecuted(action: FlowAction[C], outputs: core.ActionResult): Self = self

  /** Actions ready to run now, in flow order, restricted to `availablePools`
    * (all pools when empty). Builds a [[ReadyIndex]] over the current state;
    * executors keep one index for the whole run instead. */
  def nextRunnable(availablePools: Set[String] = Set.empty): Seq[FlowAction[C]] =
    new ReadyIndex(state).runnable.filter(a =>
      availablePools.isEmpty || availablePools.contains(poolOf(a)))

  // ----------------------------------------------------------- validation ---

  /** Runs the extension fix-point then validates the DAG. Concrete flows add
    * environment prep (temp folders) on top. */
  def prepareForExecution(maxIterations: Int = 10): Try[Self] =
    runExtensionFixPoint(maxIterations).flatMap(_.isValidFlowDAG)

  private def runExtensionFixPoint(maxIterations: Int): Try[Self] = Try {
    @tailrec
    def loop(flow: Self, remaining: Int): Self = {
      if (flow.extensions.isEmpty) flow
      else if (remaining <= 0)
        throw new FlowException(
          s"Flow extensions did not stabilise after $maxIterations iterations: " +
            flow.extensions.keys.mkString(", "))
      else {
        val (key, ext) = flow.extensions.minBy { case (k, e) => (e.ordering, k) }
        val cleared = flow.withExtensions(flow.extensions - key)
        loop(ext.preExecutionManipulation(cleared), remaining - 1)
      }
    }
    loop(self, maxIterations)
  }

  /** Post-run cleanup hook. */
  def finaliseExecution(): Try[Self] = Success(self)

  /** Validity: (1) non-empty, (2) every input label resolvable, (3) no label
    * appearing both as flow input and action output, (4) tag dependencies on
    * tags nobody carries are rejected, (5) no action depends on its own tag,
    * (6) no cycles through label or tag edges. */
  def isValidFlowDAG: Try[Self] = Try {
    val acts = actions
    if (acts.isEmpty && state.inputs.size == 0)
      throw new FlowException("Cannot execute an empty flow")

    acts.foreach { a =>
      a.inputLabels.foreach { l =>
        if (!state.inputs.contains(l) && state.pending.producerOf(l).isEmpty)
          throw new FlowException(
            s"Action [${a.actionName}] requires input label [$l] that no input or action provides")
      }
    }

    val inputClash = acts.flatMap(_.outputLabels).filter(state.inputs.contains).distinct
    if (inputClash.nonEmpty)
      throw new FlowException(
        s"Labels defined both as flow inputs and action outputs: ${inputClash.sorted.mkString(", ")}")

    val carriers = tagCarriers(acts)
    acts.foreach { a =>
      val meta = state.tagState.forAction(a.guid)
      val dangling = meta.dependsOnTags.filterNot(carriers.contains)
      if (dangling.nonEmpty)
        throw new FlowException(
          s"Action [${a.actionName}] depends on tags carried by no action: ${dangling.toSeq.sorted.mkString(", ")}")
      val selfDep = meta.tags.intersect(meta.dependsOnTags)
      if (selfDep.nonEmpty)
        throw new FlowException(
          s"Action [${a.actionName}] both carries and depends on tags: ${selfDep.toSeq.sorted.mkString(", ")}")
    }

    detectCycle(acts, carriers)
    self
  }

  /** Tag → the actions carrying it, in flow order. */
  private def tagCarriers(acts: Seq[FlowAction[C]]): Map[String, Seq[FlowAction[C]]] =
    acts.flatMap(a => state.tagState.forAction(a.guid).tags.map(_ -> a)).groupMap(_._1)(_._2)

  /** DFS cycle detection over the union of label edges (producer → consumer)
    * and tag edges (tagged → dependent). */
  private def detectCycle(acts: Seq[FlowAction[C]],
      carriers: Map[String, Seq[FlowAction[C]]]): Unit = {
    def edgesOf(a: FlowAction[C]): Seq[FlowAction[C]] = {
      val labelEdges = a.inputLabels.flatMap(state.pending.producerOf)
      val tagEdges = state.tagState.forAction(a.guid).dependsOnTags.toSeq
        .flatMap(t => carriers.getOrElse(t, Nil)).filter(_.guid != a.guid)
      (labelEdges ++ tagEdges).distinctBy(_.guid)
    }

    val WHITE = 0; val GREY = 1; val BLACK = 2
    val color = scala.collection.mutable.Map(acts.map(_.guid -> WHITE): _*)

    def visit(a: FlowAction[C], path: List[FlowAction[C]]): Unit = {
      color(a.guid) = GREY
      edgesOf(a).foreach { dep =>
        color(dep.guid) match {
          case WHITE => visit(dep, a :: path)
          case GREY =>
            val names = (dep :: a :: path).reverse.map(_.actionName)
            throw new FlowException(s"Cycle detected in flow DAG: ${names.mkString(" -> ")}")
          case _ => ()
        }
      }
      color(a.guid) = BLACK
    }

    acts.foreach(a => if (color(a.guid) == WHITE) visit(a, Nil))
  }
}

/** Pre-execution flow rewriter (commit expansion, cache planning, …). Must
  * converge: an extension that re-adds itself every round trips the fix-point
  * iteration cap. */
trait FlowExtension[Self <: DataFlow[Self, C], C <: FlowContext] {
  def identifier: String

  /** Fix-point application order (lower runs first). Extensions that ADD
    * actions (commit staging) must run before extensions whose decisions
    * depend on the final action set (cache elision counts consumers) —
    * otherwise a label reused only via commit staging looks single-consumer
    * and its planned cache is wrongly elided. */
  def ordering: Int = 50

  def preExecutionManipulation(flow: Self): Self

  /** Combine with a same-identifier extension when two flows are merged
    * (`++`). Extensions that accumulate state (commits, cache requests) must
    * union it here; the default refuses rather than silently dropping one
    * side's registrations. */
  def merge(other: FlowExtension[Self, C]): FlowExtension[Self, C] =
    throw new FlowException(
      s"Cannot merge flows: both registered extension [$identifier] and it defines no merge rule")
}
