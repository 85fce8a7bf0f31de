package graft.metrics

import org.apache.spark.sql.functions._

import PromQlParser.PromSource

/** Prometheus recording-rule materialization: evaluate an expression on the
  * step grid and append the result to the source as a NEW metric, so later
  * queries select the pre-computed series by name — the other half of the
  * rule-group surface next to [[AlertRules]] (the reference's query layer
  * serves exactly such rule outputs; `/root/reference/CHANGELOG.md:10`).
  *
  * Semantics, as upstream: the result keeps its label columns, the metric
  * name becomes the rule's `record` name, and each grid step contributes
  * one sample at the step instant. Label columns the source schema carries
  * but the result does not (aggregated away by the expr) read NULL — a
  * selector that doesn't match on them is unaffected.
  *
  * Scale shape: one grid evaluation (bounded step-explode through the
  * shared compiler) + one union — the recorded frame is a plan, not a
  * driver-side buffer, so chaining a query over it stays a single
  * declarative plan end to end.
  */
object RecordingRules {

  /** The recorded frame alone: `expr` evaluated on the grid, shaped to the
    * source schema under the new metric name (order-column 0 — at most
    * one sample per (series, step), so the tie-break never applies). */
  def recordedFrame(src: PromSource, record: String, expr: String,
                    startTs: String, endTs: String, stepSec: Long,
                    lookbackSec: Long = 300L): org.apache.spark.sql.DataFrame = {
    val grid = PromQlParser.evalRange(src, expr, startTs, endTs,
      stepSec, lookbackSec)
    val labels = grid.columns.filterNot(Set("step_ts", "value")).toSeq
    val base = src.df
    def typed(c: String) = base.schema(c).dataType
    val shaped = base.columns.toSeq.map {
      case c if c == src.metricCol => lit(record).cast(typed(c)).as(c)
      case c if c == src.tsCol     => col("step_ts").cast(typed(c)).as(c)
      case c if c == src.valueCol  => col("value").cast(typed(c)).as(c)
      case c if c == src.orderCol  => lit(0L).cast(typed(c)).as(c)
      case c if labels.contains(c) => col(c).cast(typed(c)).as(c)
      case c                       => lit(null).cast(typed(c)).as(c)
    }
    grid.select(shaped: _*)
  }

  /** Evaluate `expr` over `[startTs, endTs]` at `stepSec` and return a new
    * [[PromSource]] whose frame is the source plus the recorded series
    * named `record`. */
  def materialize(src: PromSource, record: String, expr: String,
                  startTs: String, endTs: String, stepSec: Long,
                  lookbackSec: Long = 300L): PromSource =
    src.copy(df = src.df.unionByName(
      recordedFrame(src, record, expr, startTs, endTs, stepSec, lookbackSec)))
}

/** Rule-GROUP evaluation with upstream's intra-group semantics and 3.0's
  * concurrency analysis (rules/group.go `dependencyMap` +
  * `--rules.max-concurrent-evals`): within a group, rules evaluate in
  * order and a rule SEES the outputs of rules before it in the same
  * cycle; 3.0 detects rules whose selectors provably don't read another
  * group member's output and evaluates those concurrently.
  *
  * This engine computes the same dependency analysis and turns it into
  * BATCHES: batch 0 = rules with no in-group reads, batch k = rules whose
  * last dependency sits in batch k−1; every rule in a batch evaluates
  * against the SAME input source (the base plus all earlier batches'
  * records) — their proven independence is what makes the shared input
  * sound, and q239 hash-proves batched ≡ strictly-sequential. A selector
  * that doesn't pin the metric name with an exact equality (regex / bare
  * matchers) conservatively reads EVERYTHING, exactly like upstream's
  * `dependencyMap` marking such rules un-parallelizable. A read of a
  * LATER rule's name is the previous cycle's value upstream; a single
  * batch cycle has no previous cycle, so it reads nothing here
  * (documented divergence — the driver of that rule order is the same).
  *
  * Scale shape: batching composes plans — each batch's records are
  * unioned frames, not driver buffers, so the whole group remains one
  * declarative plan; the win at 100 TB is the independent batch-0 rules
  * sharing one scan of the raw source via Spark's plan-level reuse
  * rather than evaluating serially.
  */
object RuleGroup {

  final case class Rule(record: String, expr: String)

  import PromQlParser.{Ast, Matcher, PromSource, Selector}

  /** Every [[Selector]] in an AST, via product recursion — robust to all
    * node types without enumerating them. */
  private def collectSelectors(a: Any): Seq[Selector] = a match {
    case s: Selector => Seq(s)
    case o: Option[_] => o.toSeq.flatMap(collectSelectors)
    case xs: Seq[_] => xs.flatMap(collectSelectors)
    case p: Product => p.productIterator.flatMap(collectSelectors).toSeq
    case _ => Nil
  }

  /** (exact metric names read, reads-everything flag). A name pin is the
    * bare metric or an exact `=` matcher on `__name__`/the bound metric
    * column; any selector without one is a conservative read-all. */
  def readsOf(expr: String, metricCol: String): (Set[String], Boolean) = {
    val sels = collectSelectors(PromQlParser.parse(expr))
    def namePins(s: Selector): Seq[String] =
      s.metric.toSeq ++ s.matchers.collect {
        case Matcher(l, "=", v) if l == "__name__" || l == metricCol => v
      }
    val names = sels.flatMap(namePins).toSet
    val readsAll = sels.exists(s => namePins(s).isEmpty)
    (names, readsAll)
  }

  /** The batch index per rule (0 = no in-group dependencies).
    *
    * Two constraint families, both pointing from lower to higher rule
    * index (so one pass in declaration order solves them exactly):
    *   - backward dep: rule i reads an earlier rule j's record →
    *     `out(i) >= out(j) + 1` (i must see j's output);
    *   - forward read: an EARLIER rule j reads rule i's record (i > j) →
    *     `out(i) >= out(j)`, so i's output is NOT yet unioned into the
    *     input when batch `out(j)` evaluates — preserving the sequential
    *     "forward reads see nothing" semantics. Without this a
    *     dependency-free later rule could land in batch 0 and leak its
    *     records into an earlier rule's batch-1 input. */
  def batches(rules: Seq[Rule], metricCol: String): Seq[Int] = {
    val rds = rules.map(r => readsOf(r.expr, metricCol))
    val names = rules.map(_.record)
    def reads(j: Int, name: String): Boolean =
      rds(j)._2 || rds(j)._1.contains(name)
    val out = new Array[Int](rules.length)
    for (i <- rules.indices) {
      val backward = (0 until i).collect {
        case j if reads(i, names(j)) => out(j) + 1
      }
      val forward = (0 until i).collect {
        case j if reads(j, names(i)) => out(j)
      }
      out(i) = (backward ++ forward :+ 0).max
    }
    out.toSeq
  }

  /** Batched evaluation: returns the source extended with every rule's
    * records plus the batch index per rule. */
  def evalBatched(src: PromSource, rules: Seq[Rule], startTs: String,
                  endTs: String, stepSec: Long): (PromSource, Seq[Int]) = {
    val bs = batches(rules, src.metricCol)
    var cur = src
    for (b <- 0 to (if (bs.isEmpty) -1 else bs.max)) {
      val input = cur // shared by the whole batch — independence proven
      val frames = rules.indices.filter(bs(_) == b).map(j =>
        RecordingRules.recordedFrame(input, rules(j).record, rules(j).expr,
          startTs, endTs, stepSec))
      cur = cur.copy(df = frames.foldLeft(cur.df)(_ unionByName _))
    }
    (cur, bs)
  }

  /** Strictly-sequential evaluation (upstream's pre-3.0 behavior): each
    * rule sees everything before it. The proof twin for [[evalBatched]]. */
  def evalSequential(src: PromSource, rules: Seq[Rule], startTs: String,
                     endTs: String, stepSec: Long): PromSource =
    rules.foldLeft(src)((cur, r) =>
      RecordingRules.materialize(cur, r.record, r.expr, startTs, endTs, stepSec))

  /** Multi-CYCLE evaluation, upstream-exact (rules/group.go): each cycle
    * evaluates the whole group sequentially at ONE instant against
    * storage-so-far, so a FORWARD reference (a rule reading a
    * later-declared rule's record name) genuinely reads the previous
    * cycle's sample through the lookback window — the semantics a single
    * whole-grid pass cannot see (it has no previous cycle). The
    * reference twin for [[evalCyclesPlan]]; plan depth grows with the
    * cycle count, so use it for bounded replays and proofs. */
  def evalCyclesIterative(src: PromSource, rules: Seq[Rule],
                          cycleTs: Seq[String],
                          lookbackSec: Long = 300L): PromSource = {
    // Only the RECORDS accumulate (rule-output grain — series × cycles,
    // model-sized); the base frame stays out of the fold. Two step-cost
    // cuts over the naive fold, both read off the group's own dependency
    // analysis (readsOf — the same analysis evalBatched batches on), so
    // the evaluated semantics are unchanged:
    //   1. A record name NO rule reads (no pin on it, no read-all rule)
    //     can never influence a later evaluation, so its frames skip the
    //     in-loop materialization entirely and stay lazy until the final
    //     output union. A lazy frame recomputes once per ACTION over the
    //     returned frame (a caller running several actions pays it each
    //     time); no rule re-reads it inside the loop, so it costs no
    //     in-loop re-evaluation (q253: the 8 'purchase:lag' checkpoints
    //     vanish; only the read 'purchase:tot' chain materializes).
    //   2. The in-loop localCheckpoint materializes ONLY the step's NEW
    //     frame; the visible storage is the lazy union of those
    //     checkpointed leaves. The previous form re-checkpointed the
    //     whole accumulated union every step — O(cycles²) rows
    //     re-materialized for no reader.
    // Lineage stays bounded: every materialized leaf is a checkpoint,
    // and each step's plan embeds base + (#read-records-so-far) leaves.
    val recNames = rules.map(_.record)
    val rds = rules.map(r => RuleGroup.readsOf(r.expr, src.metricCol))
    val readNames: Set[String] =
      if (rds.exists(_._2)) recNames.toSet // a read-all rule reads every record
      else recNames.filter(n => rds.exists(_._1.contains(n))).toSet
    val matRecs = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    val lazyRecs = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    for (t <- cycleTs; r <- rules) {
      val visible = matRecs.reduceOption(_ unionByName _)
      val in = src.copy(df = visible.map(src.df.unionByName).getOrElse(src.df))
      val f = RecordingRules.recordedFrame(in, r.record, r.expr, t, t, 1L,
        lookbackSec)
      if (readNames.contains(r.record)) {
        val ck = f.localCheckpoint(true)
        graft.CacheBag.registerCheckpoint(ck)
        matRecs += ck
      } else lazyRecs += f
    }
    val all = (matRecs ++ lazyRecs).reduceOption(_ unionByName _)
    src.copy(df = all.map(src.df.unionByName).getOrElse(src.df))
  }

  /** Declarative multi-cycle twin: ONE whole-grid plan per rule,
    * independent of the cycle count — the 100 TB face of
    * [[evalCyclesIterative]]. Backward reads see same-cycle records
    * (grid-pointwise identical to per-cycle sequential evaluation).
    * Forward reads see the target rule's records SHIFTED one cycle
    * later AND evaluate with lookback `L − step`: at cycle T the
    * iterative truth admits original record times in `(T−L, T−step]`
    * (width L−step — the newest possible record is the PREVIOUS
    * cycle's), while a plain selector window has width L, so shifting
    * alone would let an empty previous cycle fall through to a record
    * the staleness rule already expired. The width fix forces two
    * restrictions, both thrown as errors rather than silently
    * mis-evaluated: a rule mixing forward and non-forward reads (one
    * expression cannot carry two lookbacks), and a read cycle / genuine
    * feedback loop (recursive across time — only the iterative twin can
    * evaluate it). */
  def evalCyclesPlan(src: PromSource, rules: Seq[Rule], startTs: String,
                     endTs: String, stepSec: Long,
                     lookbackSec: Long = 300L): PromSource = {
    require(lookbackSec > stepSec,
      s"lookback ($lookbackSec s) must exceed the cycle step ($stepSec s) " +
        "for a forward reference to see the previous cycle at all")
    val rds = rules.map(r => readsOf(r.expr, src.metricCol))
    val names = rules.map(_.record)
    val n = rules.length
    // j needs frame(i): an explicit pin on names(i), or a conservative
    // read-everything (which implies every OTHER rule; only an explicit
    // self-pin makes a self-loop — readsAll does not prove one)
    def reads(j: Int, i: Int): Boolean =
      if (i == j) rds(j)._1.contains(names(i))
      else rds(j)._2 || rds(j)._1.contains(names(i))
    // forward-only: every selector pins a LATER rule's record (readsAll
    // reads the raw source too, so it is never forward-only)
    def forwardOnly(j: Int): Boolean = !rds(j)._2 && rds(j)._1.nonEmpty &&
      rds(j)._1.forall(m => names.indexOf(m) > j)
    def readsForward(j: Int): Boolean =
      rds(j)._1.exists(m => names.indexOf(m) > j)
    for (j <- 0 until n)
      if (readsForward(j) && !forwardOnly(j))
        throw new IllegalArgumentException(
          s"rule '${names(j)}' mixes a forward reference with other " +
            "reads — one expression cannot carry two lookbacks; use " +
            "evalCyclesIterative")
    val order = scala.collection.mutable.ArrayBuffer[Int]()
    val state = new Array[Int](n) // 0 unvisited, 1 in-stack, 2 done
    def visit(j: Int): Unit = {
      if (state(j) == 1) throw new IllegalArgumentException(
        s"rule-group read cycle through '${names(j)}' — a feedback loop " +
          "is recursive across cycles; use evalCyclesIterative")
      if (state(j) == 0) {
        state(j) = 1
        (0 until n).filter(reads(j, _)).foreach(visit)
        state(j) = 2; order += j
      }
    }
    (0 until n).foreach(visit)
    val tsType = src.df.schema(src.tsCol).dataType
    val frames = new Array[org.apache.spark.sql.DataFrame](n)
    for (j <- order) {
      val inputs = (0 until n).filter(reads(j, _)).map { i =>
        if (i > j) frames(i).withColumn(src.tsCol,
          (col(src.tsCol) + expr(s"INTERVAL $stepSec SECONDS")).cast(tsType))
        else frames(i)
      }
      val in = src.copy(df = inputs.foldLeft(src.df)(_ unionByName _))
      val lb = if (forwardOnly(j)) lookbackSec - stepSec else lookbackSec
      frames(j) = RecordingRules.recordedFrame(in, rules(j).record,
        rules(j).expr, startTs, endTs, stepSec, lb)
    }
    src.copy(df = frames.foldLeft(src.df)(_ unionByName _))
  }
}
