package graft

import scala.util.matching.Regex

/** Shared walker for the source lints (`SolverLintSpec`,
  * `VectorTopKLintSpec`, `TableLintSpec`, `PersistLintSpec`,
  * `SeqLintSpec`): the sources under `src/main/scala/graft` and the
  * lines of each that match a pattern outside comments. Paths use `/`
  * on every platform. */
object SourceLint {

  /** Every `.scala` file under `root`, as (path, text). */
  def sources(root: String = "src/main/scala/graft"): Seq[(String, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val all = walk(new java.io.File(root)).map(f =>
      (f.getPath.replace('\\', '/'),
        new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)))
    assert(all.size > 50, "lint found too few sources — wrong working dir?")
    all
  }

  /** A line that is all comment: it starts with `//`, a slash-star or
    * a scaladoc star. */
  def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** Line numbers (1-based) of `src`'s lines whose code (the part
    * before any `//`) matches one of `patterns`; comment lines never
    * count. */
  def lines(src: String, patterns: Seq[Regex]): Seq[Int] = {
    val ls = src.split('\n')
    ls.indices.filter { i =>
      val code = ls(i).split("//", 2)(0)
      !isComment(ls(i)) && patterns.exists(_.findFirstIn(code).isDefined)
    }.map(_ + 1)
  }

  /** `path:line` of every match of `patterns` in the sources `srcs`
    * (from [[sources]]) whose path ends with none of `allowed`. */
  def offenses(patterns: Seq[Regex], allowed: Seq[String],
               srcs: Seq[(String, String)]): Seq[String] =
    srcs.filterNot { case (p, _) => allowed.exists(p.endsWith) }
      .flatMap { case (p, src) => lines(src, patterns).map(l => s"$p:$l") }

  /** The text of the one source of `srcs` whose path ends with
    * `suffix`. */
  def only(suffix: String, srcs: Seq[(String, String)]): String = {
    val hit = srcs.filter(_._1.endsWith(suffix))
    assert(hit.size == 1, s"expected one source ending in $suffix")
    hit.head._2
  }
}
