package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-collect lock (ROADMAP aim 3), in the style of
  * [[CheckpointLintSpec]].
  *
  * A `.collect()` pulls its whole result into the driver, so every site
  * in `src/main` must say why that result is small. This spec freezes
  * the sites per file, in file order, each with its class:
  *   - [[Require]]: a named `require` on the collected row count follows
  *     within a few lines (checked);
  *   - [[Limit]]: the collected statement carries a `.limit(` (checked);
  *   - [[Bounded]]: the result is small by construction (a global
  *     aggregate, a fixed bin count), with the argument as its reason;
  *   - [[WarmUp]]: a fixed-size warm-up action, with its reason.
  * A new, removed or reclassified site fails the build until the table
  * below is updated in the same commit. Comments are not code: a
  * `.collect()` inside `//` or `/* */` (such as the one in
  * `io/Tables.scala`'s scaladoc) is not counted. */
class CollectLintSpec extends AnyFunSuite {
  import CollectLintSpec._

  private val frozen: Map[String, Seq[Site]] = Map(
    "Bench.scala" -> Seq(
      WarmUp("one sum over spark.range(1000000) before the timed sweep: 1 row")),
    "Sanity.scala" -> Seq(
      Bounded("range: one global min/max aggregate, 1 row"),
      Bounded("atLeast: one global min aggregate, 1 row"),
      Limit),
    "operators/Annotation.scala" -> Seq(Require),
    "operators/Corpus.scala" -> Seq(Limit),
    "operators/Curation.scala" -> Seq(Limit),
    "operators/Lexicon.scala" -> Seq(Require),
    "operators/Stats.scala" -> Seq(
      Bounded("q238: (c - lo) div ((hi - lo) / 256 + 1) spans at most 257 buckets"),
      Bounded("q403: least(255, ...) of a non-negative bin index, at most 256 bins")),
    "operators/Windows.scala" -> Seq(
      Require,
      Bounded("valuesAtRanks: at most live intervals x binsL cells per level")),
    "streaming/DocStreams.scala" -> Seq(Require),
    "streaming/EventStreams.scala" -> Seq(Require),
  )

  /** `src` with every comment character blanked and line breaks kept,
    * so line numbers hold; string literals are left as they are. */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def blank(c: Char): Unit = out.append(if (c == '\n') '\n' else ' ')
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        while (i < src.length && src(i) != '\n') { blank(src(i)); i += 1 }
      } else if (src.startsWith("/*", i)) {
        val end = src.indexOf("*/", i + 2)
        val stop = if (end < 0) src.length else end + 2
        while (i < stop) { blank(src(i)); i += 1 }
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out.append(src.substring(i, stop)); i = stop
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n') {
          if (src(j) == '\\') j += 1
          j += 1
        }
        val stop = math.min(j + 1, src.length)
        out.append(src.substring(i, stop)); i = stop
      } else if (src.startsWith("'\"'", i)) {
        out.append("'\"'"); i += 3
      } else { out.append(src(i)); i += 1 }
    }
    out.toString
  }

  /** The class a site's code shows: a `require(` in the collect line or
    * the 4 after it, else a `.limit(` in the collect line or the 6
    * before it; neither is `None`. */
  private def shown(lines: IndexedSeq[String], at: Int): Option[Site] = {
    def has(from: Int, to: Int, s: String) =
      (math.max(0, from) to math.min(lines.length - 1, to)).exists(lines(_).contains(s))
    if (has(at, at + 4, "require(")) Some(Require)
    else if (has(at - 6, at, ".limit(")) Some(Limit)
    else None
  }

  /** Whether a site's code backs the table's class for it: a checked
    * class must be the one shown, a declared one must give its reason. */
  private def backs(want: Site, shown: Option[Site]): Boolean = want match {
    case Require | Limit => shown.contains(want)
    case Bounded(reason) => reason.trim.nonEmpty
    case WarmUp(reason) => reason.trim.nonEmpty
  }

  test("driver collect() sites match the reviewed table, each with its bound") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val found = scala.collection.mutable.Map.empty[String, Seq[Option[Site]]]
    val it = java.nio.file.Files.walk(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (p.getFileName.toString.endsWith(".scala")) {
        val lines = codeOnly(new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)).split("\n", -1).toIndexedSeq
        val sites = lines.indices.flatMap(i =>
          Seq.fill("""\.collect\(\)""".r.findAllIn(lines(i)).size)(shown(lines, i)))
        if (sites.nonEmpty) found(root.relativize(p).toString) = sites
      }
    }
    assert(found.contains("Bench.scala"), "scan root not found")
    val problems = (frozen.keySet ++ found.keySet).toSeq.sorted.flatMap { f =>
      val (want, got) = (frozen.getOrElse(f, Nil), found.getOrElse(f, Nil))
      if (want.length != got.length)
        Seq(s"$f: ${got.length} collect() site(s), table says ${want.length}")
      else want.zip(got).zipWithIndex.collect { case ((w, g), k) if !backs(w, g) =>
        s"$f site ${k + 1}: table says $w, the code shows " +
          g.fold("neither a require nor a limit")(_.toString)
      }
    }
    assert(problems.isEmpty,
      "driver collect() sites drifted from the reviewed table:" +
        problems.map("\n  " + _).mkString +
        "\nBound every new collect() by a named require on its row count, a " +
        "limit, or a by-construction argument, and record it in the table.")
  }

  test("comments are blanked and code, strings and line breaks are kept") {
    val src = "a.collect() // b.collect()\n/* c.collect()\n */ \"//\".collect()"
    val lines = codeOnly(src).split("\n", -1)
    assert(lines.length == 3)
    assert("""\.collect\(\)""".r.findAllIn(codeOnly(src)).size == 2)
    assert(lines(2).contains("\"//\".collect()"))
  }
}

object CollectLintSpec {
  private sealed trait Site
  private case object Require extends Site
  private case object Limit extends Site
  private final case class Bounded(reason: String) extends Site
  private final case class WarmUp(reason: String) extends Site
}
