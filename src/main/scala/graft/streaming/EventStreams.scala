package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event row used by the streaming surface (events table shape). */
case class Event(event_id: Long, user_id: Long, event_type: String,
                 ts: Timestamp, value: Double)

/** Closed session emitted by `sessionize`. */
case class SessionOut(user_id: Long, n_events: Int,
                      start: Timestamp, end: Timestamp)

private case class SessionState(start: Long, end: Long, n: Int)

/** Poll-style job status event (R11's `_wait` loop generalized —
  * `workflow.py:435-475`: poll every 2 s, react to terminal states). */
case class JobEvent(job_id: String, status: String, ts: Timestamp)

/** Emitted once per job when it reaches a terminal state. */
case class JobResult(job_id: String, final_status: String,
                     n_polls: Int, secs: Double)

private case class JobState(firstTs: Long, nPolls: Int)

/** One completed pattern occurrence emitted by `detectPattern`. */
case class PatternMatch(user_id: Long, start: Timestamp, end: Timestamp,
                        n_steps: Int)

/** One step of the quantified CEP pattern language: an event type — or an
  * alternation GROUP of types, any of which counts toward the same bound —
  * with a bounded repetition count. `view` = (1,1), `signup?` = (0,1),
  * `click{2,3}` = (2,3), `(click|error){1,2}` = (1,2) over {click,error}.
  * Unbounded looping (round 12 — Flink's `oneOrMore`/`timesOrMore`)
  * spells `maxRep = Int.MaxValue`: `click+` = (1,∞), `click*` = (0,∞),
  * `click{2,}` = (2,∞). Under the lazy contract extents still depend
  * only on MIN counts — the regex twin `(?:.*?c){m,}?` matches exactly
  * m reps whenever the rest of the pattern can complete — so unbounded
  * steps change nothing about oracle derivability.
  * Symbol sets must be pairwise disjoint across a pattern's steps (the
  * [[EventStreams.parsePattern]] contract): disjointness is what makes a
  * group behave as one "super-symbol", so the lazy-regex extent-parity
  * argument for single symbols carries over verbatim with the group
  * spelled as an alternation atom `(?:x|y)`.
  *
  * `negs` guards the GAP before this step (Flink CEP's notFollowedBy):
  * an occurrence of a negated type while a run waits to enter this step
  * KILLS that run. The gap's regex atom becomes `[^xy]*?` instead of
  * `.*?`. Unlike the skippable-gap case, a kill makes runs with
  * different start events genuinely diverge (the regex "backtracks" to
  * a later occurrence of the step symbol to dodge the kill), so
  * negation patterns run on [[EventStreams.negNfaStep]] — a leftmost
  * Thompson simulation over per-level start sets — not the O(1)
  * single-chain [[EventStreams.nfaStep]]. Negations are restricted to
  * plain (1,1)-quantified chains — see [[EventStreams.parsePattern]] —
  * where the simulation provably reproduces lazy-regex extents; with
  * quantifiers an event can sit in several alternative gaps at once
  * (another rep of step i vs the advance to i+1) whose classes may
  * disagree, and the regex twin stops being derivable.
  *
  * `strict` marks a STRICT-contiguity step (round 13 — Flink CEP's
  * `next`): the event immediately following the previous step's match
  * must be this step's symbol, or the run DIES (and the killing event
  * may itself open a fresh run — exactly where a leftmost regex would
  * retry from the next head symbol). `notNext` (Flink's `notNext`) is
  * the one-event negated guard on the gap's FIRST event only: if the
  * event right after the previous step's match is a guarded type the
  * run dies; any other first event spends the guard and the step stays
  * relaxed. Both are restricted to plain (1,1) chains (like `negs`) and
  * run on [[EventStreams.strictNfaStep]] — under relaxed contiguity's
  * commit-to-first-occurrence contract the regex twin swaps lazy gaps
  * for committed negated classes (`[^c]*c`), a strict step drops its
  * gap atom entirely, and a notNext guard becomes `(?:[^xc][^c]*)?c` —
  * see [[EventStreams.strictRegexTwin]]. */
case class QStep(sym: String, minRep: Int, maxRep: Int,
                 alts: Seq[String] = Nil, negs: Seq[String] = Nil,
                 strict: Boolean = false, notNext: Seq[String] = Nil) {
  require(minRep >= 0 && maxRep >= math.max(1, minRep), s"bad bounds: $this")
  /** The step's full symbol set: head symbol + alternation alternatives. */
  def syms: Seq[String] = sym +: alts
  require(syms.distinct.size == syms.size, s"duplicate symbols in step: $this")
  def matches(s: String): Boolean = s == sym || alts.contains(s)
}

private case class PatternState(start: Long, idx: Int, reps: Int, n: Int)

/** Single-chain state for STRICT-contiguity chains: `idx` = last matched
  * step, `fresh` = true iff no event has been seen since that match (the
  * window in which a `notNext` guard or a strict next step applies). */
private case class StrictChainState(start: Long, idx: Int, n: Int,
                                    fresh: Boolean)

/** Thompson-simulation state for negation (notFollowedBy) chains:
  * `starts(i)` = sorted distinct epoch-second start times of runs that
  * have matched steps 0..i and sit in the gap before step i+1. Size is
  * bounded by the opens inside the pattern horizon (× chain length),
  * the same bound Flink CEP's `within` gives its partial matches. */
private case class NegState(starts: Seq[Seq[Long]])

/** Structured-Streaming operators (SURVEY §2B streaming). Window/watermark
  * ops are thin declarative wrappers — state lives in Spark's own stores and
  * scales horizontally (state is partitioned by group key; at 100 TB the
  * RocksDB state store + event-time timeouts keep memory bounded).
  */
object EventStreams {

  /** Tumbling-window counts with watermark: append mode emits a window only
    * once the watermark passes its end; rows later than `delay` are dropped —
    * the standard late-data contract.
    */
  def tumblingCounts(events: DataFrame, windowLen: String = "10 minutes",
                     delay: String = "15 minutes"): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))

  /** Tumbling-window DISTINCT-user sketches: the mergeable KMV/theta
    * aggregator ([[graft.functions.Sketches.ThetaSketchAggregator]])
    * running INSIDE a watermarked streaming aggregation — per-window state
    * is one ≤k-long sorted array, not the user set, and merges
    * associatively across micro-batches exactly like count's partial
    * state. Emits (wstart, est_users); estimates are EXACT below k by
    * the sketch's contract, so small-cardinality windows are precisely
    * checkable (StreamingSpec golden).
    *
    * At 100 TB rates: per-window state is 8·k bytes per group regardless
    * of user volume — the streaming twin of the batch
    * `q_agg_hll_rollup` materialized-view pattern, with theta's added
    * set-op capability for downstream overlap jobs.
    */
  def tumblingDistinctUsers(events: DataFrame,
                            windowLen: String = "10 minutes",
                            delay: String = "15 minutes",
                            k: Int = 1024): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen))
      .agg(graft.functions.Sketches.thetaSketch(
        xxhash64(col("user_id")), k).as("sk"))
      .select(col("window.start").as("wstart"),
        // the θ-rule estimate spelled as expressions (shared helper —
        // Sketches.thetaEstimate) so the whole query stays one streaming
        // aggregation + projection
        graft.functions.Sketches.thetaEstimate(col("sk"), k)
          .as("est_users"))

  /** Watermarked streaming dedup on event_id: state for an id is dropped once
    * the watermark passes, so state size is bounded by delay × rate. */
  def dedupByEventId(events: DataFrame, delay: String = "15 minutes"): DataFrame =
    events.withWatermark("ts", delay).dropDuplicates(Seq("event_id"))

  /** Bounded-state streaming dedup (`dropDuplicatesWithinWatermark`):
    * guarantees dedup for duplicates arriving within the watermark delay
    * of each other, and — unlike [[dedupByEventId]]'s keep-forever key
    * state — EXPIRES a key's state once the watermark passes it, so a
    * re-occurrence far later is emitted again. That expiry is the
    * contract that keeps state bounded by delay × rate at crawl scale
    * (the keep-forever variant grows with |keys| seen). */
  def dedupWithinWatermark(events: DataFrame,
                           delay: String = "15 minutes"): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Stream-stream interval join (Flink intervalJoin analogue, Q-JOIN-7's
    * streaming twin): purchase events joined to the same user's preceding
    * signup within `horizon`. Both sides watermarked so join state expires.
    * With `joinType = "left_outer"` a purchase with no signup in the
    * horizon still emits (with nulls), but only once the watermark passes
    * its join window: until then a matching right row could still arrive,
    * so the unmatched row's emission time is the watermark crossing. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   horizon: String = "10 minutes",
                   delay: String = "15 minutes",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", delay)
      .select(col("event_id").as("l_id"), col("user_id").as("l_user"),
              col("ts").as("l_ts"))
    val r = right.withWatermark("ts", delay)
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"),
              col("ts").as("r_ts"))
    l.join(r, expr(
      s"l_user = r_user AND r_ts BETWEEN l_ts - INTERVAL $horizon AND l_ts"),
      joinType)
  }

  /** Arbitrary-state sessionization via flatMapGroupsWithState with
    * event-time timeout: a session closes when a gap > `gapMinutes` appears
    * in-stream, or when the watermark passes the session end + gap (timeout).
    * This is the hand-rolled analogue of session_window, and the pattern for
    * any custom per-key state machine.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
                 delay: String = "15 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.n,
              new Timestamp(s.start), new Timestamp(s.end)))
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption.orNull
            val closed = Seq.newBuilder[SessionOut]
            for (e <- sorted) {
              val t = e.ts.getTime
              if (cur == null) cur = SessionState(t, t, 1)
              else if (t - cur.end > gapMs) {
                closed += SessionOut(uid, cur.n,
                  new Timestamp(cur.start), new Timestamp(cur.end))
                cur = SessionState(t, t, 1)
              } else cur = SessionState(cur.start, math.max(cur.end, t), cur.n + 1)
            }
            if (cur != null) {
              state.update(cur)
              state.setTimeoutTimestamp(cur.end + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Parse the quantified pattern DSL: whitespace-separated tokens. A
    * step token is an atom — `type` or an alternation group `(a|b|c)` —
    * followed by an optional quantifier `?`, `{m}` or `{m,n}`. A
    * NEGATION token `!type` or `!(a|b)` guards the gap before the NEXT
    * step (Flink CEP's notFollowedBy): seeing a negated type there kills
    * the chain. `parsePattern("view (click|error){2,3} signup?
    * purchase")`; `parsePattern("view !error click !signup purchase")`.
    *
    * STRICT contiguity (round 13 — Flink's `next`/`notNext`): a `>`
    * prefix marks a strict step (`view >click` — the event right after
    * the view must be the click, or the run dies), and a `!>type` token
    * guards only the VERY NEXT event before the following step
    * (`view !>error click` — the event right after the view must not be
    * an error; later errors are skipped as usual). Strict/notNext
    * patterns must be plain (1,1) chains, cannot mix with `!type`
    * (notFollowedBy) gap guards — each family has its own
    * provably-regex-parity NFA — and a notNext guard cannot precede a
    * strict step (the strict match already excludes every other type).
    *
    * Symbol sets must be pairwise disjoint across steps (see [[QStep]]);
    * negated types must not collide with any step symbol; negations are
    * only allowed in plain chains (every step (1,1)) — the subset where
    * the O(1)-state NFA provably keeps lazy-regex extents. */
  def parsePattern(pattern: String): IndexedSeq[QStep] = {
    val Tok =
      """^(\w+|\((?:\w+\|)+\w+\))(?:(\?)|(\+|\*)|\{(\d+)(?:,(\d*))?\})?$""".r
    def atomSyms(atom: String): Seq[String] =
      if (atom.startsWith("(")) atom.substring(1, atom.length - 1).split('|').toSeq
      else Seq(atom)
    val toks = pattern.trim.split("\\s+").toIndexedSeq
    val steps = scala.collection.mutable.ArrayBuffer.empty[QStep]
    var pendingNegs = Seq.empty[String]
    var pendingNotNext = Seq.empty[String]
    for (tok <- toks) tok match {
      case t if t.startsWith("!>") =>
        t.drop(2) match {
          case Tok(atom, null, null, null, null) =>
            pendingNotNext ++= atomSyms(atom)
          case s => throw new IllegalArgumentException(s"bad notNext: !>$s")
        }
      case t if t.startsWith("!") =>
        t.drop(1) match {
          case Tok(atom, null, null, null, null) => pendingNegs ++= atomSyms(atom)
          case s => throw new IllegalArgumentException(s"bad negation: !$s")
        }
      case t =>
        val (isStrict, body) =
          if (t.startsWith(">")) (true, t.drop(1)) else (false, t)
        body match {
          case Tok(atom, opt, loop, m, n) =>
            val syms = atomSyms(atom)
            val (lo, hi) =
              if (opt != null) (0, 1)
              else if (loop == "+") (1, Int.MaxValue)     // Flink oneOrMore
              else if (loop == "*") (0, Int.MaxValue)     // oneOrMore.optional
              else if (m == null) (1, 1)
              else if (n == null) (m.toInt, m.toInt)
              else if (n.isEmpty) (m.toInt, Int.MaxValue) // {m,} timesOrMore
              else (m.toInt, n.toInt)
            steps += QStep(syms.head, lo, hi, syms.tail, pendingNegs,
              strict = isStrict, notNext = pendingNotNext)
            pendingNegs = Seq.empty
            pendingNotNext = Seq.empty
          case s => throw new IllegalArgumentException(s"bad pattern step: $s")
        }
    }
    require(pendingNegs.isEmpty && pendingNotNext.isEmpty,
      s"dangling negation (no following step): $pattern")
    require(steps.nonEmpty && steps.head.minRep >= 1,
      s"pattern must open on a required step: $pattern")
    require(steps.head.negs.isEmpty,
      s"the opening step has no gap to guard: $pattern")
    val all = steps.toIndexedSeq.flatMap(_.syms)
    require(steps.exists(_.minRep >= 1) && all.distinct.size == all.size,
      s"pattern needs >= 1 required step and pairwise-disjoint symbols: $pattern")
    val negAll = steps.toIndexedSeq.flatMap(_.negs)
    require(negAll.distinct.size == negAll.size && !negAll.exists(all.contains),
      s"negated types must be distinct and disjoint from step symbols: $pattern")
    require(negAll.isEmpty || steps.forall(s => s.minRep == 1 && s.maxRep == 1),
      s"negations require a plain (1,1) chain — no quantifiers/optionals: $pattern")
    val strictish = steps.exists(s => s.strict || s.notNext.nonEmpty)
    if (strictish) {
      require(steps.forall(s => s.minRep == 1 && s.maxRep == 1),
        s"strict contiguity requires a plain (1,1) chain: $pattern")
      require(negAll.isEmpty,
        s"strict contiguity cannot mix with !type gap guards: $pattern")
      require(!steps.head.strict && steps.head.notNext.isEmpty,
        s"the opening step has no preceding event to constrain: $pattern")
      require(!steps.exists(s => s.strict && s.notNext.nonEmpty),
        s"a notNext guard before a strict step is unreachable: $pattern")
      val nnAll = steps.toIndexedSeq.flatMap(_.notNext)
      require(nnAll.distinct.size == nnAll.size && !nnAll.exists(all.contains),
        s"notNext types must be distinct and disjoint from step symbols: $pattern")
    }
    steps.toIndexedSeq
  }

  /** The batch lazy-regex twin of a quantified pattern: the regexp whose
    * non-overlapping leftmost matches over a per-user symbol string have
    * EXACTLY the extents [[nfaStep]] emits (randomized-parity property in
    * StreamingSpec) — so any pattern's DuckDB oracle is one
    * `regexp_extract_all`. `enc` maps an event type to its encoded symbol
    * (e.g. "click" → "c"); alternation groups become `(?:c|e)` atoms.
    * For `view click{2,3} signup? purchase` under the q_stream_cep2
    * encoding this returns `v(?:.*?c){2,3}?(?:.*?s)??.*?p`. */
  def lazyRegexTwin(steps: IndexedSeq[QStep],
                    enc: String => String = identity): String = {
    def atom(s: QStep): String = {
      val es = s.syms.map(enc)
      if (es.size == 1) es.head else es.mkString("(?:", "|", ")")
    }
    // the gap atom before a step: `.*?` normally, a lazy negated class
    // `[^xy]*?` when the step carries notFollowedBy guards (negations
    // are restricted to (1,1) steps by parsePattern, so the gap appears
    // exactly once per guarded step; single-char encodings required)
    def gap(s: QStep): String =
      if (s.negs.isEmpty) ".*?"
      else {
        val cls = s.negs.map(enc)
        require(cls.forall(_.length == 1),
          s"negated-gap regex needs single-char encodings: $cls")
        cls.mkString("[^", "", "]*?")
      }
    def rep(g: String, a: String, lo: Int, hi: Int): String =
      if (lo == 1 && hi == 1) s"$g$a"
      else if (lo == 0 && hi == 1) s"(?:$g$a)??"
      else if (hi == Int.MaxValue)
        (if (lo == 0) s"(?:$g$a)*?" else s"(?:$g$a){$lo,}?")
      else if (lo == hi) s"(?:$g$a){$lo}?"
      else s"(?:$g$a){$lo,$hi}?"
    val h = steps.head
    val head = atom(h) +
      (if (h.maxRep > 1)
         rep(".*?", atom(h), h.minRep - 1,
             if (h.maxRep == Int.MaxValue) Int.MaxValue else h.maxRep - 1)
       else "")
    head + steps.tail.map(s => rep(gap(s), atom(s), s.minRep, s.maxRep)).mkString
  }

  /** The quantified NFA's single transition, run by [[detectPatternQ]]'s
    * flatMapGroupsWithState operator and DIRECTLY parity-testable against
    * the batch regex. Semantics: LAZY
    * (leftmost-earliest) skip-till-next-match — the exact extents of the
    * Java/RE2 lazy regex `sym₀ (?:.*?symᵢ){minᵢ,maxᵢ}? … .*? symₗ`
    * (an alternation step's symbol set spelled as one `(?:x|y)` atom —
    * see [[lazyRegexTwin]]; pairwise-disjoint sets across steps make a
    * group a single super-symbol, so nothing below changes):
    *
    *  - at step i with r reps, the step's own symbol adds a rep while
    *    r < max (occurrences beyond max are SKIPPED like any non-step
    *    event — they are absorbed by the regex's lazy gaps, never a
    *    chain kill);
    *  - once r ≥ min, the event may instead advance to a later step —
    *    scanning forward over optional (min-0) steps but never past a
    *    required one (a required step cannot be skipped);
    *  - the chain COMPLETES the moment a step with only min-0 steps
    *    after it reaches its min (lazy: trailing optionals never hold a
    *    match open).
    *
    * Because the extents depend only on min counts (extra reps and
    * optional consumption never move the completing event — see
    * StreamingSpec's randomized regex-parity property), the DuckDB twin
    * of any quantified pattern is one lazy regexp over the per-user
    * symbol string, same as the plain-chain oracle.
    *
    * Returns (state', completedEnd): state' == null when the chain reset
    * (completion); completedEnd carries (start, end, repsConsumed). */
  private[streaming] def nfaStep(steps: IndexedSeq[QStep], cur: PatternState,
                                 t: Long, sym: String)
      : (PatternState, Option[(Long, Long, Int)]) = {
    // true when every step after i is optional — reaching min at i ends
    // the match
    def completableAt(i: Int, r: Int): Boolean =
      r >= steps(i).minRep && (i + 1 until steps.size).forall(steps(_).minRep == 0)
    def finish(s: PatternState): (PatternState, Option[(Long, Long, Int)]) =
      if (completableAt(s.idx, s.reps)) (null, Some((s.start, t, s.n)))
      else (s, None)
    if (cur == null) {
      if (steps.head.matches(sym)) finish(PatternState(t, 0, 1, 1))
      else (null, None)
    } else {
      val st = steps(cur.idx)
      if (st.matches(sym) && cur.reps < st.maxRep)
        finish(cur.copy(reps = cur.reps + 1, n = cur.n + 1))
      else if (cur.reps >= st.minRep) {
        // advance scan: over optional steps, stopping at the first
        // required one (inclusive)
        var k = cur.idx + 1
        var hit = -1
        var stop = false
        while (k < steps.size && !stop && hit < 0) {
          if (steps(k).matches(sym)) hit = k
          if (steps(k).minRep >= 1) stop = true
          k += 1
        }
        if (hit >= 0) finish(PatternState(cur.start, hit, 1, cur.n + 1))
        else (cur, None)
      } else (cur, None)
    }
  }

  /** The negation-chain transition: one step of a LEFTMOST Thompson
    * simulation of the negated-class lazy regex
    * `sym₀ [^n₁]*? sym₁ … [^nₗ]*? symₗ` (gap i's class = step i's `negs`,
    * `.*?` when empty). Why not the single-chain [[nfaStep]]: a gap kill
    * makes run outcomes depend on WHICH occurrence of a step symbol a
    * run consumed — the regex backtracks to a later occurrence to dodge
    * a kill — so exact regex parity needs every viable (start, level)
    * pair, not one chain. `levels(i)` holds the sorted distinct starts
    * of runs that matched steps 0..i (length `steps.size - 1`; matching
    * the last step emits). Each event does at most ONE of: open a run
    * (head symbol), advance a level (step symbol — runs also STAY, the
    * regex's gap-absorption fork), kill a level (negated type), or
    * nothing (any other type). Symbols and negated types are pairwise
    * disjoint by the [[parsePattern]] contract, which is what makes the
    * action unique. Emission = earliest start in the top level when the
    * last step's symbol arrives, then ALL runs clear (AFTER MATCH SKIP
    * PAST LAST ROW); runs older than `withinSec` expire on every event.
    *
    * Leftmost parity argument (randomized property in StreamingSpec):
    * kills and advances apply to every run at a level alike, so an
    * earlier start always occupies a level ≥ any later start's top
    * level — the first run to accept is the leftmost-starting one, and
    * the first accept instant is that start's lazy (earliest) end.
    *
    * Returns (levels', completed (start, end)). */
  private[streaming] def negNfaStep(steps: IndexedSeq[QStep],
                                    levels: IndexedSeq[Seq[Long]],
                                    t: Long, sym: String, withinSec: Long)
      : (IndexedSeq[Seq[Long]], Option[(Long, Long)]) = {
    val last = steps.size - 1
    val lv = levels.map(_.filter(s => t - s <= withinSec))
    val j = steps.indexWhere(_.matches(sym))
    if (j == 0)
      (lv.updated(0, (lv(0) :+ t).distinct.sorted), None)
    else if (j == last) {
      if (lv(last - 1).nonEmpty)
        (IndexedSeq.fill(last)(Nil), Some((lv(last - 1).min, t)))
      else (lv, None)
    } else if (j > 0)
      (lv.updated(j, (lv(j) ++ lv(j - 1)).distinct.sorted), None)
    else {
      val k = steps.indexWhere(_.negs.contains(sym))
      if (k >= 1) (lv.updated(k - 1, Nil), None) else (lv, None)
    }
  }

  /** The strict-contiguity chain transition (round 13 — Flink CEP
    * `next`/`notNext`): one event against one [[StrictChainState]].
    * Relaxed contiguity COMMITS to the first occurrence of each step
    * symbol (the skip-till-next-match contract, same as [[nfaStep]] on
    * plain chains), so a single chain per user suffices; the strict
    * additions only add KILL edges:
    *
    *  - a strict next step not matched by the first event after the
    *    previous step's match kills the run;
    *  - a notNext-guarded type as that first event kills the run;
    *  - a killed run's killing event may itself OPEN a fresh run (it is
    *    exactly where the committed regex twin's next leftmost attempt
    *    would begin);
    *  - any other first event SPENDS the guard (`fresh` → false) and
    *    relaxed skipping resumes.
    *
    * Extent parity with the committed regex twin
    * ([[strictRegexTwin]] — randomized property in StreamingSpec):
    * commitment removes backtracking alternatives, so the one chain IS
    * the leftmost match. Returns (state', completed (start, end, n));
    * state' == null on completion (AFTER MATCH SKIP PAST LAST ROW). */
  private[streaming] def strictNfaStep(steps: IndexedSeq[QStep],
                                       cur: StrictChainState,
                                       t: Long, sym: String)
      : (StrictChainState, Option[(Long, Long, Int)]) = {
    def open(): (StrictChainState, Option[(Long, Long, Int)]) =
      if (steps.head.matches(sym))
        (StrictChainState(t, 0, 1, fresh = true), None)
      else (null, None)
    if (cur == null) open()
    else {
      val nxt = steps(cur.idx + 1) // completion resets to null, so it exists
      if (nxt.matches(sym)) {
        if (cur.idx + 2 == steps.size) (null, Some((cur.start, t, cur.n + 1)))
        else (StrictChainState(cur.start, cur.idx + 1, cur.n + 1,
          fresh = true), None)
      } else if (nxt.strict ||
          (cur.fresh && nxt.notNext.contains(sym))) open()
      else (cur.copy(fresh = false), None)
    }
  }

  /** The committed-regex twin of a strict/notNext chain — the DuckDB
    * oracle counterpart of [[lazyRegexTwin]] for the strict family.
    * Relaxed contiguity's commit-to-first-occurrence is spelled with
    * committed negated classes instead of lazy gaps (`[^c]*c` — the
    * engine CANNOT backtrack past a committed step, which is exactly the
    * single-chain kill semantics); a strict step contributes its atom
    * with NO gap; a notNext guard becomes a one-event negated class
    * `(?:[^xc][^c]*)?c` (either the step symbol is immediate, or the
    * first event is neither guarded nor the symbol and relaxed skipping
    * resumes — no lookahead needed, so the twin stays RE2/DuckDB-safe).
    * Requires single-character encodings (class atoms). */
  def strictRegexTwin(steps: IndexedSeq[QStep],
                      enc: String => String = identity): String = {
    def encs(xs: Seq[String]): Seq[String] = {
      val es = xs.map(enc)
      require(es.forall(_.length == 1),
        s"strict-chain regex needs single-char encodings: $es")
      es
    }
    def atom(s: QStep): String = {
      val es = encs(s.syms)
      if (es.size == 1) es.head else es.mkString("(?:", "|", ")")
    }
    steps.head match { case h =>
      atom(h) + steps.tail.map { s =>
        val cls = encs(s.syms).mkString
        if (s.strict) atom(s)
        else if (s.notNext.isEmpty) s"[^$cls]*" + atom(s)
        else {
          val guard = encs(s.notNext).mkString
          s"(?:[^$guard$cls][^$cls]*)?" + atom(s)
        }
      }.mkString
    }
  }

  /** Streaming CEP: detect the ordered event-type chain `steps` per user
    * within a `withinSec` horizon — Flink CEP's `begin.followedBy…`
    * (skip-till-next-match, AFTER MATCH SKIP PAST LAST ROW) as
    * flatMapGroupsWithState, the incremental twin of the batch
    * [[graft.operators.Analytics.eventPattern]] / funnel family. One
    * active partial chain per user: a `steps.head` event opens it,
    * each expected next step advances it, completing the last step
    * emits a [[PatternMatch]] and resets; an event past the horizon
    * expires the chain (and may itself re-open one). Intermediate
    * non-step events are skipped — the "followedBy" (not "next")
    * contract.
    *
    * Scale shape: state is ONE (start, idx, reps) tuple per user — O(1),
    * not per-event — partitioned by user key in Spark's state store;
    * event-time timeouts GC users whose chain horizon passed the
    * watermark. Events sort by (epoch-seconds ts, event_id) within a
    * micro-batch
    * (the sessionize ordering contract; cross-batch order rides the
    * watermark like every stateful op here). */
  def detectPattern(events: Dataset[Event], steps: Seq[String],
                    withinSec: Long,
                    delay: String = "15 minutes"): Dataset[PatternMatch] = {
    require(steps.size >= 2, s"pattern needs >= 2 steps: $steps")
    detectPatternQ(events, steps.map(QStep(_, 1, 1)).toIndexedSeq,
      withinSec, delay)
  }

  /** Quantified streaming CEP (round 11): optional and bounded-repetition
    * steps — `detectPatternQ(ev, parsePattern("view click{2,3} signup?
    * purchase"), …)` — with the skip-till-next-match, one-chain-per-user,
    * AFTER MATCH SKIP PAST LAST ROW contract of [[detectPattern]] kept.
    * Lazy-regex extents (see [[nfaStep]]), so every pattern has a batch
    * regex twin on BOTH engines. */
  def detectPatternQ(events: Dataset[Event], steps: IndexedSeq[QStep],
                     withinSec: Long,
                     delay: String = "15 minutes"): Dataset[PatternMatch] = {
    require(steps.nonEmpty && steps.head.minRep >= 1,
      s"pattern must open on a required step: $steps")
    require(steps.forall(_.negs.isEmpty) ||
        steps.forall(s => s.minRep == 1 && s.maxRep == 1),
      s"negations require a plain (1,1) chain: $steps")
    if (steps.exists(_.negs.nonEmpty))
      return detectPatternNeg(events, steps, withinSec, delay)
    if (steps.exists(s => s.strict || s.notNext.nonEmpty))
      return detectPatternStrict(events, steps, withinSec, delay)
    import events.sparkSession.implicits._
    val horizonMs = withinSec * 1000L
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PatternState, PatternMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[PatternState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // the ts contract is epoch-SECONDS (fixtures carry ns noise
            // below that); order and measure the horizon in seconds so the
            // NFA sees exactly the sequence the batch oracle defines —
            // same-second events tie-break on event_id, not sub-second ns
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime / 1000, e.event_id))
            var cur = state.getOption.orNull // cur.start is epoch-seconds
            val out = Seq.newBuilder[PatternMatch]
            for (e <- sorted) {
              val t = e.ts.getTime / 1000
              if (cur != null && t - cur.start > withinSec) cur = null
              val (next, done) = nfaStep(steps, cur, t, e.event_type)
              cur = next
              done.foreach { case (start, end, n) =>
                out += PatternMatch(uid, new Timestamp(start * 1000L),
                  new Timestamp(end * 1000L), n)
              }
            }
            if (cur != null) {
              state.update(cur)
              // flatMapGroupsWithState does not pre-filter late rows: a
              // chain opened by a late event could place start+horizon at
              // or below the watermark, which setTimeoutTimestamp rejects
              // with an IllegalArgumentException — clamp to watermark+1 so
              // such a chain times out on the next batch instead of
              // crashing the query
              state.setTimeoutTimestamp(math.max(cur.start * 1000L + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            } else state.remove()
            out.result().iterator
          }
      }
  }

  /** Negation-chain CEP (round 12 — Flink CEP `notFollowedBy`): the
    * [[negNfaStep]] Thompson simulation as flatMapGroupsWithState.
    * Dispatched to by [[detectPatternQ]] whenever a step carries `negs`;
    * same Event in / PatternMatch out contract ([[PatternMatch.n_steps]]
    * = chain length — plain (1,1) chains consume one event per step).
    * State per user is the per-level start sets — horizon-bounded like
    * Flink's `within` partial matches, GC'd by event-time timeout at the
    * earliest run's expiry. */
  private def detectPatternNeg(events: Dataset[Event],
                               steps: IndexedSeq[QStep], withinSec: Long,
                               delay: String): Dataset[PatternMatch] = {
    import events.sparkSession.implicits._
    val nLevels = steps.size - 1
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[NegState, PatternMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[NegState]) =>
          if (state.hasTimedOut) {
            // the timer fires at the EARLIEST run's horizon; younger runs
            // survive — prune by the watermark and re-arm if any remain
            val wmSec = state.getCurrentWatermarkMs() / 1000
            val lv = state.get.starts.map(_.filter(_ + withinSec >= wmSec))
            if (lv.forall(_.isEmpty)) state.remove()
            else {
              state.update(NegState(lv))
              state.setTimeoutTimestamp(math.max(
                (lv.flatten.min + withinSec) * 1000L + 1,
                state.getCurrentWatermarkMs() + 1))
            }
            Iterator.empty
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime / 1000, e.event_id))
            var lv: IndexedSeq[Seq[Long]] = state.getOption
              .map(_.starts.toIndexedSeq)
              .getOrElse(IndexedSeq.fill(nLevels)(Seq.empty[Long]))
            val out = Seq.newBuilder[PatternMatch]
            for (e <- sorted) {
              val t = e.ts.getTime / 1000
              val (next, done) = negNfaStep(steps, lv, t, e.event_type, withinSec)
              lv = next
              done.foreach { case (start, end) =>
                out += PatternMatch(uid, new Timestamp(start * 1000L),
                  new Timestamp(end * 1000L), steps.size)
              }
            }
            if (lv.exists(_.nonEmpty)) {
              state.update(NegState(lv))
              state.setTimeoutTimestamp(math.max(
                (lv.flatten.min + withinSec) * 1000L + 1,
                state.getCurrentWatermarkMs() + 1))
            } else state.remove()
            out.result().iterator
          }
      }
  }

  /** Strict-contiguity CEP (round 13 — Flink CEP `next`/`notNext`): the
    * [[strictNfaStep]] single chain as flatMapGroupsWithState.
    * Dispatched to by [[detectPatternQ]] whenever a step is strict or
    * carries a notNext guard; same Event in / PatternMatch out contract
    * and O(1) per-user state as the plain/quantified chain. */
  private def detectPatternStrict(events: Dataset[Event],
                                  steps: IndexedSeq[QStep], withinSec: Long,
                                  delay: String): Dataset[PatternMatch] = {
    import events.sparkSession.implicits._
    val horizonMs = withinSec * 1000L
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[StrictChainState, PatternMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[StrictChainState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime / 1000, e.event_id))
            var cur = state.getOption.orNull
            val out = Seq.newBuilder[PatternMatch]
            for (e <- sorted) {
              val t = e.ts.getTime / 1000
              if (cur != null && t - cur.start > withinSec) cur = null
              val (next, done) = strictNfaStep(steps, cur, t, e.event_type)
              cur = next
              done.foreach { case (start, end, n) =>
                out += PatternMatch(uid, new Timestamp(start * 1000L),
                  new Timestamp(end * 1000L), n)
              }
            }
            if (cur != null) {
              state.update(cur)
              state.setTimeoutTimestamp(math.max(cur.start * 1000L + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            } else state.remove()
            out.result().iterator
          }
      }
  }

  /** R11's monitored join as a streaming state machine: one JobResult per
    * job when its status stream reaches a terminal state; per-job state is
    * (first-poll ts, polls so far) and is dropped on completion.
    *
    * Contract (matches the reference, which removes a finished job from its
    * poll list): emission is at-least-once per completion — a duplicate
    * terminal event arriving AFTER state was dropped re-registers the job
    * and re-emits. Producers that can replay terminal states should dedup
    * downstream (`dropDuplicates("job_id")`). */
  def monitorJobs(polls: Dataset[JobEvent],
                  terminal: Set[String] = Set("SUCCEEDED", "FAILED", "KILLED"))
      : Dataset[JobResult] = {
    import polls.sparkSession.implicits._
    polls.groupByKey(_.job_id)
      .flatMapGroupsWithState[JobState, JobResult](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (jid: String, it: Iterator[JobEvent], state: GroupState[JobState]) =>
          val sorted = it.toSeq.sortBy(_.ts.getTime)
          var st = state.getOption.getOrElse(
            JobState(sorted.headOption.map(_.ts.getTime).getOrElse(0L), 0))
          val out = Seq.newBuilder[JobResult]
          var done = false
          for (e <- sorted if !done) {
            st = JobState(st.firstTs, st.nPolls + 1)
            if (terminal(e.status)) {
              out += JobResult(jid, e.status, st.nPolls,
                (e.ts.getTime - st.firstTs) / 1000.0)
              done = true
            }
          }
          if (done) state.remove() else state.update(st)
          out.result().iterator
      }
  }
}
