package graft.streaming

import org.apache.spark.sql.Encoders

/** Per-key DP state for S20: m(k) = the latest possible start
  * timestamp (µs) over ordered subsequences matching pattern[0..k]
  * among events processed so far; −1 = none (safe: tsu − windowUs is
  * always positive for this corpus). Exactly the accumulator of W9b's
  * batch fold (queries/Windows.scala skipPatternCount), carried across
  * micro-batches instead of across array elements. */
case class SkipMatchState(m: Seq[Long])

/** Per-key state for S20c: the letters and event times (µs) of the
  * last two events seen, in (ts, event_id) order — "x" = none yet.
  * O(1) per key, even smaller than S20's O(|pattern|) DP. */
case class StrictState(l1: String, t1: Long, l2: String, t2: Long)

object StrictMatchProcessor {
  /** S20c — STREAMING STRICT-CONTIGUITY CEP (Flink CEP's `next()`,
    * MATCH_RECOGNIZE without exclusions): the pattern's events must be
    * IMMEDIATELY consecutive in the key's (ts, event_id) event order —
    * the contiguity mode S20's skip-till-next-match (`followedBy`)
    * cannot express, closing the Flink contiguity axis (S21/S14 cover
    * `notFollowedBy`). A purchase completes iff the key's previous event
    * was a click AND the one before was a view, with the view within
    * `windowUs` (`within`). An intervening event of ANY type breaks the
    * match — that is the semantic difference from S20, unit-pinned in
    * StreamingSpec on the exact sequence v,x,c,p (S20 matches, S20c
    * does not).
    *
    * Runs on the funnel-injected replay (the S8b fixture): the natural
    * corpus has ZERO strictly-consecutive v,c,p triples at the gate
    * scales (checked in DuckDB — browse/click noise always intervenes;
    * 4 / 47 chains match at sf0.001 / sf0.01 under the rewrite), which
    * is itself the realistic read on strict contiguity. The injected
    * chains' member spacing straddles batch files, so the last-two
    * window is genuinely carried across micro-batches.
    *
    * State: TWO (letter, tsu) pairs per key — constant, the smallest
    * CEP state in the S-series. 100 TB: one user_id shuffle, O(1) per
    * event, no history buffered. */
  def fold(windowUs: Long)
      : KeyedFold[FunnelEvent, StrictState, (Long, Long)] =
    KeyedFold("strictmatch", Encoders.product[StrictState],
      (prev, user, events) => {
        val (next, out) = stepAll(windowUs,
          prev.getOrElse(StrictState("x", -1L, "x", -1L)), user, events)
        (Some(next), out)
      })

  /** The strict step advanced over `events` — ALREADY in
    * (tsu, event_id) order: emit on v→c→p with no gap, then shift the
    * last-two window. Unit-testable without a streaming harness. */
  def stepAll(windowUs: Long, st0: StrictState, user: Long,
              events: Seq[FunnelEvent]): (StrictState, Seq[(Long, Long)]) = {
    var st = st0
    val out = scala.collection.mutable.ListBuffer[(Long, Long)]()
    events.foreach { e =>
      val l = SkipMatchProcessor.letterOf(e.event_type).toString
      if (l == "p" && st.l1 == "c" && st.l2 == "v" &&
          e.tsu - st.t2 <= windowUs)
        out += ((user, e.event_id))
      st = StrictState(l, e.tsu, st.l1, st.t1)
    }
    (st, out.toSeq)
  }
}

object SkipMatchProcessor {
  /** S20 — STREAMING skip-till-next-match CEP (Flink CEP's
    * `followedBy… within`, MATCH_RECOGNIZE's relaxed-contiguity mode):
    * the general non-contiguous sequence pattern W9b evaluates in batch,
    * run incrementally over the live replay on `transformWithState`.
    * For each arriving event (processed in the replay's global
    * (ts, event_id) order — the S8/S14/S18 batch-sequential contract,
    * pinned in StreamingSpec "replay-order contract"), the max-start DP
    * advances: every slot updates from the PRE-event state
    * simultaneously (one event never serves two positions of the same
    * match; repeated pattern letters stay correct), and the event is
    * emitted as a completion iff it carries the pattern's last letter
    * and m(n−2) clears the time horizon ts − windowUs.
    *
    * Equivalence with the batch fold is structural — same update, same
    * completion predicate, same (ts, event_id) total order — and pinned
    * two ways in StreamingSpec: per-user completion counts against
    * w9bCounts on the natural corpus, and the full emission set against
    * skipPatternCount on a synthetic repeated-letter pattern.
    *
    * State: O(|pattern|) longs per key, CONSTANT in events processed —
    * strictly smaller than the funnel/absence trailing-window lists
    * (StreamingSpec pins one state row under a hyperactive key). 100 TB:
    * one user_id shuffle into RocksDB state (the declared backend),
    * per-event work O(|pattern|), no per-key history buffered — this is
    * the CEP operator whose state budget survives unbounded keys without
    * a session-window compose. Unlike W9/W9b's batch arrays (a whole
    * partition's history, hence their 2^20 slice cap), the in-order
    * sort buffer holds one key's volume in one micro-batch (see
    * [[InOrderProcessor]]); S20b runs the same fold behind the
    * watermark reorder buffer. */
  def fold(pattern: String, windowUs: Long)
      : KeyedFold[FunnelEvent, SkipMatchState, (Long, Long)] = {
    require(pattern.length >= 2,
      s"pattern too short for a sequence: $pattern")
    KeyedFold("skipmatch", Encoders.product[SkipMatchState],
      (prev, user, events) => {
        val m = prev.map(_.m.toArray)
          .getOrElse(Array.fill(pattern.length - 1)(-1L))
        val out = stepAll(pattern, windowUs, m, user, events)
        (Some(SkipMatchState(m.toSeq)), out)
      })
  }

  /** The W9/W9b explicit letter map — unknown types map to 'x', never
    * silently alias into the pattern. */
  def letterOf(t: String): Char = t match {
    case "view" => 'v'
    case "click" => 'c'
    case "purchase" => 'p'
    case _ => 'x'
  }

  /** The max-start DP advanced over `events` — ALREADY in
    * (tsu, event_id) order — mutating `m` in place and returning the
    * completions. */
  def stepAll(pattern: String, windowUs: Long, m: Array[Long], user: Long,
              events: Seq[FunnelEvent]): Seq[(Long, Long)] = {
    val n = pattern.length
    val out = scala.collection.mutable.ListBuffer[(Long, Long)]()
    val upd = new Array[Long](n - 1)
    events.foreach { e =>
      val l = letterOf(e.event_type)
      val t = e.tsu
      // completion decided from the PRE-event state (the fold's acc)
      if (l == pattern(n - 1) && m(n - 2) >= t - windowUs)
        out += ((user, e.event_id))
      var k = 0
      while (k < n - 1) {
        upd(k) =
          if (l != pattern(k)) m(k)
          else if (k == 0) math.max(m(0), t)
          else if (m(k - 1) >= 0) math.max(m(k), m(k - 1))
          else m(k)
        k += 1
      }
      System.arraycopy(upd, 0, m, 0, n - 1)
    }
    out.toSeq
  }
}

/** Per-key S20f state — the SkipMatch DP with ONE MORE SLOT carrying a
  * SELF-LOOP: m0 = latest view ts (slot 0, as in S20), m1 = the
  * anchoring view (the latest view with a subsequent click — S20's
  * m(1)), cnt = how many clicks the greedy loop has absorbed since the
  * anchor last advanced. −1 = none. */
case class OneOrMoreState(m0: Long, m1: Long, cnt: Long)

object OneOrMoreProcessor {
  /** S20f — CEP GREEDY UNBOUNDED QUANTIFIER (Flink CEP's
    * `oneOrMore.greedy` with `until()`, MATCH_RECOGNIZE's `C+`): the
    * pattern v c+ p — a view, then ONE OR MORE clicks (unbounded — the
    * quantifier S20d's times(2) cannot express), stopped by the
    * purchase (`until`), all within the 24 h window. Where S20 answers
    * "did v→c→p complete" and S20d "did exactly k clicks land", this
    * reports the LOOP PAYLOAD: (user, purchase_id, n_clicks), with
    * n_clicks the greedy count — every click absorbed since the
    * anchoring view.
    *
    * The DP extension is exactly "one more slot with a self-loop":
    * on a click, if a NEWER view has arrived since the
    * anchor (m0 > m1), the greedy loop RESTARTS there (anchor := m0,
    * cnt := 1 — skip-till-next-match takes the latest possible start,
    * S20's max-start rule); otherwise the self-loop absorbs the click
    * (cnt += 1). A purchase completes from the PRE-event state iff the
    * anchor clears ts − window (the S20 completion predicate verbatim —
    * StreamingSpec pins completions ≡ S20), emitting the loop count;
    * `until` means the purchase itself never enters the loop, and (as
    * in S20) state is NOT reset after a match — the next purchase may
    * complete again under skip-till-next-match.
    *
    * Closed form (the oracle): anchor(p) = max over clicks c < p of
    * (max view ts before c) — S20's m2 window chain — and n_clicks(p) =
    * the number of clicks before p whose max-view-before EQUALS that
    * anchor (a click under a newer view would have advanced the anchor;
    * a click under an older one was absorbed by a superseded loop).
    *
    * State: THREE longs per key — constant in events processed, the
    * same budget class as S20's O(|pattern|). 100 TB: one user_id
    * shuffle, O(1) per event, no history buffered. */
  def fold(windowUs: Long)
      : KeyedFold[FunnelEvent, OneOrMoreState, (Long, Long, Long)] =
    KeyedFold("oneormore", Encoders.product[OneOrMoreState],
      (prev, user, events) => {
        val (next, out) = stepAll(windowUs,
          prev.getOrElse(OneOrMoreState(-1L, -1L, 0L)), user, events)
        (Some(next), out)
      })

  /** The greedy-loop step advanced over `events` — ALREADY in
    * (tsu, event_id) order. Unit-testable without a streaming
    * harness. m0 is monotone and m1 only ever takes past m0 values,
    * so m0 ≥ m1 whenever m1 ≥ 0 — the restart test (m0 > m1) is
    * exactly "a newer view arrived since the anchor". */
  def stepAll(windowUs: Long, st0: OneOrMoreState, user: Long,
              events: Seq[FunnelEvent])
      : (OneOrMoreState, Seq[(Long, Long, Long)]) = {
    var (m0, m1, cnt) = (st0.m0, st0.m1, st0.cnt)
    val out = scala.collection.mutable.ListBuffer[(Long, Long, Long)]()
    events.foreach { e =>
      SkipMatchProcessor.letterOf(e.event_type) match {
        case 'v' => m0 = math.max(m0, e.tsu)
        case 'c' if m0 >= 0 =>
          if (m0 > m1) { m1 = m0; cnt = 1L } else cnt += 1L
        case 'p' if m1 >= 0 && m1 >= e.tsu - windowUs =>
          out += ((user, e.event_id, cnt))
        case _ => ()
      }
    }
    (OneOrMoreState(m0, m1, cnt), out.toSeq)
  }
}

/** Per-key S20e state: views and clicks still inside the trailing
  * window, as (tsu, event_id) pairs — the candidate lists the no-skip
  * enumeration draws from. */
case class AllMatchState(views: Seq[(Long, Long)],
                         clicks: Seq[(Long, Long)])

object AllMatchesProcessor {
  /** S20e — ALL-MATCHES CEP enumeration (Flink CEP's
    * AfterMatchSkipStrategy.noSkip, MATCH_RECOGNIZE's ALL ROWS PER
    * MATCH with overlapping matches): where S20 reports each completing
    * purchase ONCE (skip-till-next-match — the DP keeps only the
    * latest-start chain), this operator emits EVERY (view, click,
    * purchase) triple that matches v→c→p within the window — the match
    * TUPLE, with the ids of all three constituent events, for every
    * overlapping combination. The payload axis: S21c ships match tuples
    * for TIMED-OUT partials; this is the completed-match counterpart.
    *
    * Fold (in (tsu, event_id) order, the batch-sequential contract): a
    * view or click appends to its candidate list; a purchase p emits
    * (user, v_id, c_id, p_id) for every click c < p and view v < c with
    * v.tsu ≥ p.tsu − windowUs. Strict (tsu, id) lexicographic precedence
    * between slots — the same convention as S20's DP and the s24-family
    * oracles.
    *
    * STATE BOUND (the no-skip question the operator must answer): both
    * candidate lists prune at chunk max − window, exactly the funnel's
    * trailing-window argument — a view below p − window fails the
    * horizon for every future p, and a click at c < maxTs − window would
    * need a view v < c, even older, so neither can contribute to a
    * future match. State is rate × window per key — bounded, the same
    * budget as S8's funnel (NOT unbounded: the window clips the
    * enumeration depth). Per-purchase work — and output — is
    * O(|views| × |clicks|) within the window: output-volume-driven BY
    * SEMANTICS (no-skip enumerates combinations; Flink's no-skip mode
    * pays the same), the l8e adjudication pattern — the skip modes (S20)
    * remain the production face when only existence is needed.
    *
    * 100 TB: one user_id shuffle, trailing-window state in RocksDB. */
  def fold(windowUs: Long)
      : KeyedFold[FunnelEvent, AllMatchState, (Long, Long, Long, Long)] =
    KeyedFold("allmatch", Encoders.product[AllMatchState],
      (prev, user, events) => {
        val (next, out) = stepAll(windowUs,
          prev.getOrElse(AllMatchState(Nil, Nil)), user, events)
        (Some(next), out)
      })

  /** The no-skip enumeration step advanced over `events` — ALREADY in
    * (tsu, event_id) order. Unit-testable without a streaming
    * harness; returns the pruned state and every match tuple. */
  def stepAll(windowUs: Long, st0: AllMatchState, user: Long,
              events: Seq[FunnelEvent])
      : (AllMatchState, Seq[(Long, Long, Long, Long)]) = {
    var views = st0.views.toList
    var clicks = st0.clicks.toList
    val out = scala.collection.mutable.ListBuffer[(Long, Long, Long, Long)]()
    var maxTs = 0L
    events.foreach { e =>
      maxTs = math.max(maxTs, e.tsu)
      SkipMatchProcessor.letterOf(e.event_type) match {
        case 'v' => views ::= ((e.tsu, e.event_id))
        case 'c' => clicks ::= ((e.tsu, e.event_id))
        case 'p' =>
          val horizon = e.tsu - windowUs
          for {
            c <- clicks
            v <- views
            if v._1 >= horizon &&
              (v._1 < c._1 || (v._1 == c._1 && v._2 < c._2))
          } out += ((user, v._2, c._2, e.event_id))
        case _ => ()
      }
    }
    // one prune per chunk: emission-neutral (a purchase's horizon
    // filter already excludes stale views, and a stale click can only
    // pair with a still-staler view), so pruning cadence cannot change
    // the output — only the carried state
    views = views.filter(_._1 >= maxTs - windowUs)
    clicks = clicks.filter(_._1 >= maxTs - windowUs)
    (AllMatchState(views, clicks),
      out.sortBy(t => (t._2, t._3, t._4)).toSeq)
  }
}
