package graft.sqlfront

import scala.collection.mutable

/** Token-pattern REWRITER over [[Lex]] — the roaming-match counterpart of
  * [[Pat]]'s statement-anchored extractors, and the regex-free successor of
  * the historical `rewriteOutside(regex)` fragment rewrites.
  *
  * [[rewrite]] scans a statement's token stream left to right, replaces
  * every non-overlapping occurrence of the element pattern with the
  * callback's output (resuming AFTER each match, exactly like
  * `Regex.replaceAllIn`), and passes all non-matched source text through
  * verbatim. Literal safety is STRUCTURAL, not simulated: a 'string
  * literal' is a single token that only a [[Lit]] element can match, so a
  * keyword inside one can never fire a rewrite — the property the
  * span-exclusion check in `rewriteOutside` used to bolt on (and, one
  * deliberate improvement, a "quoted identifier" is a single word token
  * whose text includes its quotes, so bare-keyword rules cannot fire
  * inside those either).
  *
  * Word-boundary semantics come free: tokens ARE maximal words, so
  * `W("NOW")` cannot match inside `KNOWN` the way an unanchored regex
  * could. Adjacency-sensitive regex shapes (`@(\w+)`, `<=`, `-?\d+`)
  * use the Adj variants, which require the token to start exactly at the
  * previous token's end. */
private[sqlfront] object Rw {
  import Lex.Token

  sealed trait E
  /** One word from the set (case-insensitive), CAPTURED as its raw text. */
  final case class W(ws: String*) extends E
  /** One word from the set, no capture. */
  final case class Kw(ws: String*) extends E
  /** One symbol char, no capture. */
  final case class Sy(c: Char) extends E
  /** One symbol char that must start exactly at the previous token's end
    * (regex adjacency, e.g. the `=` of `<=`). */
  final case class AdjSy(c: Char) extends E
  /** Any bare (unquoted) word, captured. */
  case object AnyW extends E
  /** Any bare word adjacent to the previous token (regex `@(\w+)`). */
  case object AdjAnyW extends E
  /** Digits-only numeric literal, captured (regex `(\d+)`). */
  case object Digits extends E
  /** Optionally-negated integer, captured with its sign (regex `(-?\d+)`:
    * the digits must be adjacent to the minus, as in the regex). */
  case object SignedDigits extends E
  /** A 'string literal' whose INNER text satisfies `pred`; inner captured
    * (escapes kept raw, matching the regex-span contract). */
  final case class Lit(pred: String => Boolean = _ => true) extends E
  /** Greedy optional group with backtracking; absent nested captures are
    * null (regex `(?:…)?`). */
  final case class OptE(els: E*) extends E
  /** Negative lookahead: the elements must NOT match here; consumes
    * nothing, captures nothing (regex `(?!…)`). */
  final case class Not(els: E*) extends E
  /** Positive lookahead: must match here; consumes/captures nothing. */
  final case class Peek(els: E*) extends E
  /** End of token stream (regex `\s*$`). */
  case object End extends E

  private def nCaps(el: E): Int = el match {
    case _: W | AnyW | AdjAnyW | Digits | SignedDigits | _: Lit => 1
    case OptE(inner @ _*) => inner.map(nCaps).sum
    case _ => 0
  }

  /** Try the pattern at token index `start`; Some((endExclusive, caps)) on
    * match. Greedy with backtracking over OptE, like Pat.run. */
  private def tryAt(s: String, ts: IndexedSeq[Token], start: Int,
      els: List[E]): Option[(Int, IndexedSeq[String])] = {
    val caps = mutable.ArrayBuffer.empty[String]
    def isBare(j: Int): Boolean =
      j < ts.length && ts(j).kind == Lex.Word && s.charAt(ts(j).start) != '"'
    def isSym(j: Int, c: Char): Boolean =
      j < ts.length && ts(j).kind == Lex.Sym && s.charAt(ts(j).start) == c
    def digitsOnly(j: Int): Boolean =
      j < ts.length && ts(j).kind == Lex.Num &&
        (ts(j).start until ts(j).end).forall(k => s.charAt(k).isDigit)
    def adjacent(j: Int): Boolean = j > 0 && ts(j).start == ts(j - 1).end

    def go(list: List[E], i: Int): Int = list match {
      case Nil => i
      case el :: rest =>
        val mark = caps.length
        def tryAlts(alts: Seq[() => Int]): Int = {
          alts.foreach { a =>
            caps.takeInPlace(mark)
            val ni = a()
            if (ni >= 0) {
              val e = go(rest, ni)
              if (e >= 0) return e
            }
          }
          caps.takeInPlace(mark)
          -1
        }
        el match {
          case W(ws @ _*) => tryAlts(Seq(() =>
            if (ws.exists(w => i < ts.length && ts(i).is(s, w))) {
              caps += ts(i).text(s); i + 1
            } else -1))
          case Kw(ws @ _*) => tryAlts(Seq(() =>
            if (ws.exists(w => i < ts.length && ts(i).is(s, w))) i + 1 else -1))
          case Sy(c) => tryAlts(Seq(() => if (isSym(i, c)) i + 1 else -1))
          case AdjSy(c) => tryAlts(Seq(() =>
            if (isSym(i, c) && adjacent(i)) i + 1 else -1))
          case AnyW => tryAlts(Seq(() =>
            if (isBare(i)) { caps += ts(i).text(s); i + 1 } else -1))
          case AdjAnyW => tryAlts(Seq(() =>
            if (isBare(i) && adjacent(i)) { caps += ts(i).text(s); i + 1 }
            else -1))
          case Digits => tryAlts(Seq(() =>
            if (digitsOnly(i)) { caps += ts(i).text(s); i + 1 } else -1))
          case SignedDigits => tryAlts(Seq(
            () => if (digitsOnly(i)) { caps += ts(i).text(s); i + 1 } else -1,
            () => if (isSym(i, '-') && digitsOnly(i + 1) && adjacent(i + 1)) {
              caps += "-" + ts(i + 1).text(s); i + 2
            } else -1))
          case Lit(pred) => tryAlts(Seq(() =>
            if (i < ts.length && ts(i).kind == Lex.Lit) {
              val inner = s.substring(ts(i).start + 1,
                math.max(ts(i).start + 1, ts(i).end - 1))
              if (pred(inner)) { caps += inner; i + 1 } else -1
            } else -1))
          case OptE(inner @ _*) =>
            val present = go(inner.toList ::: rest, i)
            if (present >= 0) present
            else {
              caps.takeInPlace(mark)
              inner.foreach(e => caps ++= Seq.fill(nCaps(e))(null: String))
              val absent = go(rest, i)
              if (absent >= 0) absent else { caps.takeInPlace(mark); -1 }
            }
          case Not(inner @ _*) =>
            if (tryAt(s, ts, i, inner.toList).isDefined) {
              caps.takeInPlace(mark); -1
            } else go(rest, i)
          case Peek(inner @ _*) =>
            if (tryAt(s, ts, i, inner.toList).isDefined) go(rest, i)
            else { caps.takeInPlace(mark); -1 }
          case End => if (i == ts.length) go(rest, i) else -1
        }
    }
    val end = go(els, start)
    if (end < 0) None else Some((end, caps.toIndexedSeq))
  }

  /** Replace every leftmost non-overlapping occurrence of the pattern with
    * `f(captures)`; scan resumes after each match, replacements are not
    * re-scanned within the pass (replaceAllIn semantics). The callback runs
    * once PER OCCURRENCE, in source order — side-effecting callbacks (e.g.
    * NEXTVAL) keep their per-occurrence contract. */
  def rewrite(q: String, els: E*)(f: IndexedSeq[String] => String): String = {
    val ts = Lex.tokens(q)
    if (ts.isEmpty) return q
    val pat = els.toList
    val sb = new java.lang.StringBuilder(q.length)
    var last = 0
    var i = 0
    while (i < ts.length) {
      tryAt(q, ts, i, pat) match {
        case Some((end, caps)) if end > i =>
          sb.append(q, last, ts(i).start)
          sb.append(f(caps))
          last = ts(end - 1).end
          i = end
        case _ => i += 1
      }
    }
    sb.append(q, last, q.length)
    sb.toString
  }

  /** True iff the pattern matches anywhere in the statement. */
  def contains(q: String, els: E*): Boolean = {
    val ts = Lex.tokens(q)
    val pat = els.toList
    (0 until ts.length).exists(i => tryAt(q, ts, i, pat).isDefined)
  }

  /** First occurrence (at/after char offset `from`) of the pattern:
    * Some((startChar, endCharExclusive, caps)). The find step of rewrite
    * loops whose replacement needs balanced-paren context the pattern
    * itself cannot bound. */
  def find(q: String, from: Int, els: E*)
      : Option[(Int, Int, IndexedSeq[String])] = {
    val ts = Lex.tokens(q)
    val pat = els.toList
    var i = 0
    while (i < ts.length) {
      if (ts(i).start >= from) {
        tryAt(q, ts, i, pat) match {
          case Some((end, caps)) if end > i =>
            return Some((ts(i).start, ts(end - 1).end, caps))
          case _ =>
        }
      }
      i += 1
    }
    None
  }

  /** Char offset of the first occurrence (at/after char offset `from`) of
    * word `name` directly followed by '(' outside literals, plus the char
    * offset of that '(' — the find step of the call-shaped rewrite loops
    * (LOG(), CASE(), SET()). -1s when absent. */
  def findCall(q: String, name: String, from: Int): (Int, Int) = {
    val ts = Lex.tokens(q)
    var i = 0
    while (i < ts.length - 1) {
      if (ts(i).start >= from && ts(i).is(q, name) &&
          ts(i + 1).kind == Lex.Sym && q.charAt(ts(i + 1).start) == '(')
        return (ts(i).start, ts(i + 1).start)
      i += 1
    }
    (-1, -1)
  }
}
