package graft.dataflow

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

import scala.collection.mutable
import scala.util.Random

/** Property-style tests for the DAG validator over random flows — the
  * memoised label+tag graph walk is the subtlest code in the framework
  * (SURVEY §7.3 risk register), so it is checked against ground truth on
  * generated structures rather than a handful of hand-picked examples.
  * 200 deterministic seeds per property. The executors' [[ReadyIndex]] is
  * checked the same way, against a brute-force readiness rule written here. */
class DagPropertySpec extends AnyFunSpec with Matchers {

  private def producer(out: String, ins: Seq[String] = Seq.empty) =
    new TestAction(ins.toList, List(out))(_ => Seq(Some("v")))

  private val Trials = 200

  describe("random forward DAGs") {
    it("always validate and always execute to completion") {
      (1 to Trials).foreach { seed =>
        val rnd = new Random(seed)
        val n = 1 + rnd.nextInt(25)
        // labels l0..l(n-1); each consumes a random subset of EARLIER labels
        // -> acyclic by construction
        val flow = (0 until n).foldLeft(SimpleDataFlow.empty) { (fl, i) =>
          val ins = (0 until i).filter(_ => rnd.nextDouble() < 0.3).map(j => s"l$j")
          fl.addAction(producer(s"l$i", ins))
        }
        withClue(s"seed=$seed n=$n: ") {
          flow.isValidFlowDAG.isSuccess shouldBe true
          val (executed, done) = new SequentialExecutor[FlowContext]().execute(flow)
          executed.size shouldBe n
          done.actions shouldBe empty
        }
      }
    }
  }

  describe("random cyclic label graphs") {
    it("are always rejected") {
      (1 to Trials).foreach { seed =>
        val rnd = new Random(seed)
        val n = 2 + rnd.nextInt(11)
        // forward DAG plus a guaranteed 2-cycle: l_i's producer consumes l_k
        // AND l_k's producer consumes l_i (random earlier edges on top)
        val i = rnd.nextInt(n - 1)
        val k = i + 1 + rnd.nextInt(n - 1 - i)
        val flow = (0 until n).foldLeft(SimpleDataFlow.empty) { (fl, x) =>
          val ins = (0 until x).filter(_ => rnd.nextDouble() < 0.3).map(j => s"l$j") ++
            (if (x == i) Seq(s"l$k") else if (x == k) Seq(s"l$i") else Seq.empty)
          fl.addAction(producer(s"l$x", ins))
        }
        withClue(s"seed=$seed n=$n backedge=l$k->l$i: ") {
          flow.isValidFlowDAG.isFailure shouldBe true
        }
      }
    }
  }

  describe("random tag fences") {
    it("never change WHAT executes, only the order") {
      (1 to Trials).foreach { seed =>
        val rnd = new Random(seed)
        val n = 2 + rnd.nextInt(14)
        // the tag-depending sink is added FIRST: flow-order scheduling alone
        // would run it before the producers, so the ordering assertion below
        // actually exercises the tag fence (a sink added last would pass
        // trivially)
        val tagged = (0 until n).filter(_ => rnd.nextBoolean()).toSet
        val start =
          if (tagged.isEmpty) SimpleDataFlow.empty
          else SimpleDataFlow.empty.tagDependency("grp")(_.addAction(producer("sink")))
        val flow = (0 until n).foldLeft(start) { (fl, x) =>
          if (tagged.contains(x)) fl.tag("grp")(_.addAction(producer(s"l$x")))
          else fl.addAction(producer(s"l$x"))
        }
        withClue(s"seed=$seed n=$n tagged=${tagged.size}: ") {
          val (executed, done) = new SequentialExecutor[FlowContext]().execute(flow)
          executed.size shouldBe (if (tagged.isEmpty) n else n + 1)
          done.actions shouldBe empty
          if (tagged.nonEmpty) {
            val order = executed.map(_.outputLabels.head).zipWithIndex.toMap
            tagged.foreach(x => order(s"l$x") should be < order("sink"))
          }
        }
      }
    }
  }

  /** A random valid flow. Actions are generated in a topological order and
    * added to the flow shuffled, so flow order and dependency order differ.
    * Action `i` reads flow inputs or outputs of earlier actions, may carry the
    * tag of its block of the order and may depend on tags of earlier blocks.
    * Some flow inputs and outputs are produced empty, some actions tolerate
    * empty inputs, and actions spread over three pools and the default. */
  private def randomFlow(seed: Int): SimpleDataFlow = {
    val rnd = new Random(seed)
    val n = 2 + rnd.nextInt(30)
    val blocks = 1 + rnd.nextInt(4)
    def block(i: Int) = i * blocks / n
    val carries = Vector.fill(n)(rnd.nextDouble() < 0.4)
    val carried = (0 until n).filter(carries).map(block).toSet
    val inputs = (0 until rnd.nextInt(3)).map(k =>
      s"in$k" -> (if (rnd.nextDouble() < 0.3) None else Some(s"v$k")))
    val outputs = Vector.tabulate(n)(i => (0 to rnd.nextInt(2)).map(k => s"a${i}_$k").toList)
    val actions = (0 until n).map { i =>
      val visible = inputs.map(_._1) ++ (0 until i).flatMap(outputs)
      val ins = visible.filter(_ => rnd.nextDouble() < 0.15).toList
      val empty = outputs(i).map(_ => rnd.nextDouble() < 0.15)
      val action = new TestAction(ins, outputs(i), requiresAllInputs = rnd.nextDouble() >= 0.3)(
        e => outputs(i).zip(empty).map { case (l, isEmpty) =>
          if (isEmpty) None
          else Some((l +: ins.map(x => e.getOption[String](x).getOrElse("-"))).mkString("|").hashCode.toString)
        })
      val tags = if (carries(i)) Seq(s"b${block(i)}") else Seq.empty
      val deps = (0 until block(i)).filter(b => carried(b) && rnd.nextDouble() < 0.4).map(b => s"b$b")
      val pool = rnd.nextInt(4) match {
        case 3 => None
        case p => Some(s"p$p")
      }
      (action, tags, deps, pool)
    }
    val withInputs = inputs.foldLeft(SimpleDataFlow.empty) { case (f, (l, v)) => f.addInput(l, v) }
    rnd.shuffle(actions).foldLeft(withInputs) { case (f, (a, tags, deps, pool)) =>
      val add: SimpleDataFlow => SimpleDataFlow =
        _.tag(tags: _*)(_.tagDependency(deps: _*)(_.addAction(a)))
      pool.fold(add(f))(p => f.executionPool(p)(add))
    }
  }

  /** Pending actions of `flow` that may run now, in flow order, decided
    * from scratch: every input produced, none produced empty unless the
    * action tolerates it, and no other pending action carries a tag it
    * depends on. `started` actions are pending but not runnable. */
  private def bruteForceRunnable(flow: SimpleDataFlow, started: Set[String]): Seq[String] = {
    val tags = flow.state.tagState
    flow.actions.filter { a =>
      !started(a.guid) &&
        a.inputLabels.forall(flow.inputs.contains) &&
        (!a.requiresAllInputs || a.inputLabels.forall(l => flow.inputs.entities(l).isDefined)) &&
        tags.forAction(a.guid).dependsOnTags.forall(t => !flow.actions.exists(o =>
          o.guid != a.guid && tags.forAction(o.guid).tags.contains(t)))
    }.map(_.guid)
  }

  private def run(flow: SimpleDataFlow, a: FlowAction[FlowContext]): core.ActionResult =
    a.performAction(flow.inputs.filterLabels(a.inputLabels), flow.context).get

  describe("the ready index") {
    it("matches a brute-force readiness check after every start and completion") {
      (1 to Trials).foreach { seed =>
        val flow = randomFlow(seed).prepareForExecution().get
        val index = new ReadyIndex(flow.state)
        val rnd = new Random(seed * 31L)
        val started = mutable.LinkedHashMap.empty[String, FlowAction[FlowContext]]
        var current = flow
        var steps = 0
        var done = false
        while (!done) {
          withClue(s"seed=$seed step=$steps: ") {
            index.runnable.map(_.guid) shouldBe bruteForceRunnable(current, started.keySet.toSet)
          }
          val runnable = index.runnable
          if (runnable.nonEmpty && (started.isEmpty || rnd.nextBoolean())) {
            // hand one runnable action to a "worker", as the parallel executor does
            val a = runnable(rnd.nextInt(runnable.size))
            index.started(a)
            started(a.guid) = a
          } else if (started.nonEmpty) {
            // complete one of the running actions
            val a = started.values.toVector(rnd.nextInt(started.size))
            started -= a.guid
            val outputs = run(current, a)
            current = current.executed(a, outputs)
            index.executed(a, outputs)
          } else done = true
          steps += 1
        }
      }
    }

    it("drives both executors to the same actions and entities as a brute-force run") {
      (1 to Trials).foreach { seed =>
        val flow = randomFlow(seed)
        var oracle = flow.prepareForExecution().get
        var next = bruteForceRunnable(oracle, Set.empty).headOption
        while (next.nonEmpty) {
          val a = oracle.actions.find(_.guid == next.get).get
          oracle = oracle.executed(a, run(oracle, a))
          next = bruteForceRunnable(oracle, Set.empty).headOption
        }
        val (seqRan, seqDone) =
          new SequentialExecutor[FlowContext]().execute(flow, errorOnUnexecutedActions = false)
        val (parRan, parDone) = new ParallelExecutor[FlowContext](3, Map("p0" -> 1))
          .execute(flow, errorOnUnexecutedActions = false)
        withClue(s"seed=$seed: ") {
          seqRan.map(_.guid).toSet shouldBe oracle.state.executedActions.map(_.guid).toSet
          parRan.map(_.guid).toSet shouldBe oracle.state.executedActions.map(_.guid).toSet
          seqDone.inputs shouldBe oracle.inputs
          parDone.inputs shouldBe oracle.inputs
          if (oracle.actions.nonEmpty) {
            // leftovers (an empty input they cannot take) still fail the run
            intercept[FlowException](new ParallelExecutor[FlowContext](3).execute(flow))
              .getMessage should include("unexecuted")
            intercept[FlowException](new SequentialExecutor[FlowContext]().execute(flow))
              .getMessage should include("unexecuted")
          }
        }
      }
    }

    it("runs a 5,000-action layered flow with tag dependencies on the parallel executor") {
      val layers = 50
      val width = 100
      val rnd = new Random(5000)
      def label(l: Int, i: Int) = s"n${l}_$i"
      val ins = Vector.tabulate(layers, width) { (l, _) =>
        if (l == 0) Vector.empty
        else Vector.fill(1 + rnd.nextInt(3))(rnd.nextInt(width)).distinct
      }
      def value(l: Int, i: Int, inputs: Seq[Long]): Long = {
        var z = inputs.sum + 0x9e3779b97f4a7c15L * (l * width + i + 1)
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z ^ (z >>> 27)
      }
      val expected = Array.ofDim[Long](layers, width)
      for (l <- 0 until layers; i <- 0 until width)
        expected(l)(i) = value(l, i, ins(l)(i).map(j => expected(l - 1)(j)))
      def addLayer(flow: SimpleDataFlow, l: Int): SimpleDataFlow = (0 until width).foldLeft(flow) { (f, i) =>
        val inLabels = ins(l)(i).map(label(l - 1, _)).toList
        f.executionPool(s"pool-${(l + i) % 4}")(_.addAction(new TestAction(inLabels, List(label(l, i)))(e =>
          Seq(Some(value(l, i, inLabels.map(e.get[java.lang.Long](_).longValue)))))))
      }
      val TagEvery = 4
      val flow = (0 until layers).foldLeft(SimpleDataFlow.empty) { (f, l) =>
        if (l >= TagEvery && l % TagEvery == 0)
          f.tagDependency(s"layer-${l - 2}")(_.tag(s"layer-$l")(addLayer(_, l)))
        else f.tag(s"layer-$l")(addLayer(_, l))
      }
      val (executed, done) = new ParallelExecutor[FlowContext](8).execute(flow)
      executed.size shouldBe layers * width
      done.actions shouldBe empty
      val wrong = for {
        l <- 0 until layers; i <- 0 until width
        if done.inputs.get[java.lang.Long](label(l, i)).longValue != expected(l)(i)
      } yield label(l, i)
      wrong shouldBe empty
      // completion order: a tag-dependent layer starts only after every
      // carrier of the tag it waits on has completed
      val position = executed.map(_.outputLabels.head).zipWithIndex.toMap
      def layerOf(l: Int) = (0 until width).map(i => position(label(l, i)))
      (TagEvery until layers by TagEvery).foreach { l =>
        withClue(s"layer $l: ") { layerOf(l).min should be > layerOf(l - 2).max }
      }
    }
  }
}
