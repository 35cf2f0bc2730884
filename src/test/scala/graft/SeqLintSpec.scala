package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanized guard for the round-12 O(n²) class of bugs: on
  * Scala 2.13 / Spark 4, `Seq[T]`-typed udf parameters, `getSeq`
  * results, and Aggregator input fields deserialize as immutable
  * `List`, so indexed access inside a loop is O(i) PER ACCESS — the
  * r12 sf10 sweep found nine files where this turned linear kernels
  * quadratic (minhash 210→33 s, SemDeDup 234→9 s after `.toArray` at
  * entry). Nothing structural stops the next Seq-typed kernel from
  * reintroducing it, so this spec lints the source tree (r12 verdict
  * ask #5):
  *
  *  - RULE udf-param: a `Seq[...]`-typed udf lambda parameter must be
  *    `.toArray`/`.iterator`-converted before any indexed apply
  *    `p(...)` inside the udf body.
  *  - RULE getSeq-val: a val bound from `row.getSeq[...]` without
  *    `.toArray` on the same line must not be indexed-applied later
  *    (convert at entry instead).
  *  - RULE agg-field: inside a file defining an `Aggregator`, a
  *    Seq-typed case-class field `f` must not be accessed as `.f(i)`
  *    unless the file converts it via `.f.toArray` first.
  *
  * A deliberate single-indexed access can be whitelisted with a
  * `// seq-ok` comment on the offending line — the annotation states
  * the author considered the List cost. Comments are stripped before
  * matching, and udf bodies are brace-balanced (not a fixed window),
  * so prose like "docs(i) would cost O(i)" never false-positives.
  */
class SeqLintSpec extends AnyFunSuite {

  private case class Offense(file: String, rule: String, name: String,
                             line: Int) {
    override def toString = s"$file:$line [$rule] $name"
  }

  /** Strip // line comments (string literals with // are rare in
    * kernels and a stripped false-negative only weakens, never breaks,
    * the lint) but KEEP the `seq-ok` token visible to the matcher. */
  private def stripComments(line: String): (String, Boolean) = {
    val i = line.indexOf("//")
    if (i < 0) (line, false)
    else (line.substring(0, i), line.contains("seq-ok"))
  }

  /** The character span of the udf call starting at `start`: from the
    * first `(`/`{` after the token, to its balanced close. */
  private def callSpan(src: String, start: Int): (Int, Int) = {
    var i = start
    while (i < src.length && src(i) != '(' && src(i) != '{') i += 1
    if (i >= src.length) return (start, start)
    var depth = 0
    val open = i
    while (i < src.length) {
      val c = src(i)
      if (c == '(' || c == '{') depth += 1
      else if (c == ')' || c == '}') {
        depth -= 1
        if (depth == 0) return (open, i)
      }
      i += 1
    }
    (open, src.length - 1)
  }

  private def lineOf(src: String, pos: Int): Int =
    src.substring(0, math.min(pos, src.length)).count(_ == '\n') + 1

  /** Returns every offense in one source text (exposed to the planted-
    * offender test below). */
  private def lint(file: String, raw: String): Seq[Offense] = {
    val okLines: Set[Int] = raw.split('\n').zipWithIndex.collect {
      case (l, i) if l.contains("seq-ok") => i + 1
    }.toSet
    // comment-stripped text with byte offsets preserved line-by-line
    val src = raw.split('\n').map(l => stripComments(l)._1)
      .mkString("\n")
    val out = Seq.newBuilder[Offense]

    def applyRe(p: String) =
      ("(?<![\\w.`])" + java.util.regex.Pattern.quote(p) + "\\(").r
    def safeRe(p: String) =
      (java.util.regex.Pattern.quote(p) +
        "\\.(toArray|iterator|toIndexedSeq|toVector)").r

    def checkRegion(rule: String, p: String, region: String,
                    regionOffset: Int): Unit = {
      val safeAt = safeRe(p).findFirstMatchIn(region)
        .map(_.start).getOrElse(Int.MaxValue)
      applyRe(p).findAllMatchIn(region).foreach { m =>
        val ln = lineOf(src, regionOffset + m.start)
        if (m.start < safeAt && !okLines.contains(ln))
          out += Offense(file, rule, p, ln)
      }
    }

    // RULE udf-param
    val udfRe = "(?<![\\w.])udf\\s*[\\(\\{]".r
    udfRe.findAllMatchIn(src).foreach { um =>
      val (open, close) = callSpan(src, um.start)
      val body = src.substring(open, close + 1)
      val paramRe =
        "\\(([^()]*:\\s*Seq\\[[^)]*)\\)\\s*=>".r
      paramRe.findFirstMatchIn(body).foreach { pm =>
        val params = pm.group(1)
        val seqPs = "([a-zA-Z_][A-Za-z0-9_]*)\\s*:\\s*Seq\\[".r
          .findAllMatchIn(params).map(_.group(1)).toList
        val lamBody = body.substring(pm.end)
        seqPs.foreach(p =>
          checkRegion("udf-param", p, lamBody, open + pm.end))
      }
    }

    // RULE getSeq-val
    val gsRe =
      "val\\s+([a-zA-Z_][A-Za-z0-9_]*)\\s*=[^\\n=]*\\.getSeq\\[[^\\n]*".r
    gsRe.findAllMatchIn(src).foreach { gm =>
      if (!gm.matched.contains(".toArray") &&
          !gm.matched.contains(".iterator")) {
        val p = gm.group(1)
        // scope: rest of the enclosing block, approximated by the next
        // 100 lines — fine for a tripwire, kernels are short
        val end = {
          var e = gm.end; var n = 0
          while (e < src.length && n < 100) {
            if (src(e) == '\n') n += 1
            e += 1
          }
          e
        }
        checkRegion("getSeq-val", p, src.substring(gm.end, end), gm.end)
      }
    }

    // RULE agg-field
    if (src.contains("extends Aggregator[") ||
        src.contains("Aggregator[(")) {
      val ccRe = "case class\\s+\\w+\\s*\\(([^)]*)\\)".r
      ccRe.findAllMatchIn(src).foreach { cm =>
        val fields = "([a-zA-Z_][A-Za-z0-9_]*)\\s*:\\s*Seq\\[".r
          .findAllMatchIn(cm.group(1)).map(_.group(1)).toList
        fields.foreach { f =>
          val fieldApply =
            ("\\.(" + java.util.regex.Pattern.quote(f) + ")\\(").r
          val fieldSafe = ("\\." + java.util.regex.Pattern.quote(f) +
            "\\.(toArray|iterator)").r
          val isSafe = fieldSafe.findFirstIn(src).isDefined
          if (!isSafe) fieldApply.findAllMatchIn(src).foreach { m =>
            val ln = lineOf(src, m.start)
            if (!okLines.contains(ln))
              out += Offense(file, "agg-field", f, ln)
          }
        }
      }
    }
    out.result()
  }

  test("src/main kernels array-copy every Seq-typed deserialized input") {
    val offenses = SourceLint.sources("src/main/scala").flatMap {
      case (p, src) => lint(p, src) }
    assert(offenses.isEmpty,
      "Seq-typed kernel inputs indexed without .toArray at entry " +
        "(List deserialization => O(n²) loops; r12 sweep bug class):\n" +
        offenses.mkString("\n"))
  }

  test("the lint catches a planted offender in each rule") {
    val planted1 =
      """val f = udf { (xs: Seq[Double]) =>
        |  var s = 0.0; var i = 0
        |  while (i < xs.length) { s += xs(i); i += 1 }
        |  s
        |}""".stripMargin
    assert(lint("p1", planted1).exists(o =>
      o.rule == "udf-param" && o.name == "xs"))

    val planted2 =
      """it.foreach { r =>
        |  val vec = r.getSeq[Double](1)
        |  var i = 0
        |  while (i < vec.length) { acc += vec(i); i += 1 }
        |}""".stripMargin
    assert(lint("p2", planted2).exists(o =>
      o.rule == "getSeq-val" && o.name == "vec"))

    val planted3 =
      """case class In(x: Seq[Double], y: Double)
        |object A extends Aggregator[In, Array[Double], Double] {
        |  def reduce(b: Array[Double], in: In): Array[Double] = {
        |    var i = 0
        |    while (i < b.length) { b(i) += in.x(i); i += 1 }
        |    b
        |  }
        |}""".stripMargin
    assert(lint("p3", planted3).exists(o =>
      o.rule == "agg-field" && o.name == "x"))

    // and the .toArray discipline silences each
    val fixed1 = planted1.replace("(xs: Seq[Double]) =>",
      "(xs0: Seq[Double]) =>\n  val xs = xs0.toArray")
    assert(!lint("f1", fixed1).exists(_.rule == "udf-param"))
    val fixed2 = planted2.replace("r.getSeq[Double](1)",
      "r.getSeq[Double](1).toArray")
    assert(!lint("f2", fixed2).exists(_.rule == "getSeq-val"))
    val fixed3 = planted3.replace("in.x(i)", "in.x.toArray(i)")
    assert(!lint("f3", fixed3).exists(_.rule == "agg-field"))

    // comments never false-positive: prose mentioning docs(i) is fine
    val prose =
      """val f = udf { (docs: Seq[Long]) =>
        |  // iterate (never index) — docs(i) would cost O(i) per access
        |  docs.iterator.sum
        |}""".stripMargin
    assert(lint("p4", prose).isEmpty)
  }
}
