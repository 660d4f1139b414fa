package graft.dataflow

import scala.collection.mutable

/** Incremental readiness of a flow's pending actions: built once from a flow
  * state, then told about every start and completion.
  *
  * Per action it keeps two counts: input labels not yet produced, and
  * dependency tags still carried by a pending action. With label →
  * consumers and tag → dependents maps, a completion touches only the
  * actions that read its outputs or wait on its tags, so the work per
  * completion grows with those, not with the size of the flow. Once both
  * counts of an action are zero, [[FlowAction.readiness]] decides whether it
  * can run (an input produced empty keeps an action that requires all its
  * inputs out for good); if it can, it joins the ready set, kept in flow
  * order.
  *
  * Not thread-safe: executors drive it from their scheduler thread.
  */
final class ReadyIndex[C <: FlowContext](state: FlowState[C]) {

  private val acts: Vector[FlowAction[C]] = state.pending.toVector
  private val ordinal: mutable.HashMap[String, Int] =
    mutable.HashMap.from(acts.iterator.map(_.guid).zipWithIndex)
  private val missing = new Array[Int](acts.size)
  private val tagWait = new Array[Int](acts.size)
  // started or executed: never runnable again
  private val taken = new Array[Boolean](acts.size)
  private val consumers = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
  private val dependents = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
  // tag -> number of pending actions carrying it
  private val carriers = mutable.HashMap.empty[String, Int]
  private val ready = mutable.TreeSet.empty[Int]
  private var produced: FlowEntities = state.inputs

  acts.foreach(a => state.tagState.forAction(a.guid).tags
    .foreach(t => carriers(t) = carriers.getOrElse(t, 0) + 1))
  acts.indices.foreach { i =>
    val a = acts(i)
    a.inputLabels.distinct.filterNot(produced.contains).foreach { l =>
      missing(i) += 1
      consumers.getOrElseUpdate(l, mutable.ArrayBuffer.empty) += i
    }
    state.tagState.forAction(a.guid).dependsOnTags.foreach { t =>
      if (carriers.contains(t)) {
        tagWait(i) += 1
        dependents.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += i
      }
    }
    promote(i)
  }

  /** Ready actions that have not been started, in flow order. */
  def runnable: Seq[FlowAction[C]] = ready.toVector.map(acts)

  /** `action` was handed to a worker: it is no longer runnable, but stays
    * pending (its tags still hold back their dependents) until executed. */
  def started(action: FlowAction[C]): Unit = take(indexOf(action))

  /** `action` finished with `outputs`, positional as in [[DataFlow.executed]]. */
  def executed(action: FlowAction[C], outputs: core.ActionResult): Unit = {
    val i = indexOf(action)
    take(i)
    produced = action.outputLabels.zip(outputs).foldLeft(produced) {
      case (acc, (l, v)) => acc.add(l, v)
    }
    action.outputLabels.foreach { l =>
      consumers.remove(l).foreach(_.foreach { c => missing(c) -= 1; promote(c) })
    }
    state.tagState.forAction(action.guid).tags.foreach { t =>
      val left = carriers(t) - 1
      if (left > 0) carriers(t) = left
      else {
        carriers -= t
        dependents.remove(t).foreach(_.foreach { d => tagWait(d) -= 1; promote(d) })
      }
    }
  }

  private def indexOf(action: FlowAction[C]): Int = ordinal.getOrElse(action.guid,
    throw new FlowException(s"Action [${action.actionName}] is not pending in this flow"))

  private def take(i: Int): Unit = { taken(i) = true; ready -= i }

  private def promote(i: Int): Unit =
    if (!taken(i) && missing(i) == 0 && tagWait(i) == 0 &&
      acts(i).readiness(produced) == ActionState.ReadyToRun) ready += i
}
