package graft

import org.scalatest.funsuite.AnyFunSuite

/** Single-definition lock for the corpus models many queries share
  * (in the style of [[CheckpointLintSpec]]).
  *
  * Each model below has ONE definition; every query calls it. A pasted
  * copy would let the copies drift apart with only the per-query
  * oracles to notice, so this spec scans the Scala code under
  * `src/main` (outside `"""` strings, which hold the DuckDB oracle
  * twins) for each model's signature fragment and requires it exactly
  * once, at the model's home file. The only other sites allowed are
  * listed in `allowed`, each with its reason. */
class ModelDefinitionLintSpec extends AnyFunSuite {

  private case class Model(name: String, fragment: String, home: String)

  private val models = Seq(
    Model("stoplist", """"the",\s*"a",\s*"of",\s*"and",\s*"in",\s*"to"""",
      "functions/Fns.scala"),
    Model("quality score", """lit\(100\)\)\s*\*\s*10\b""", "functions/Fns.scala"),
    Model("per-term surprisal",
      """log\(\(\$?"?t"? \* lit\(1\.0\)\) / \$?"?cnt"?\) \* lit\(1000000\.0\)""",
      "functions/Fns.scala"),
    Model("MinHash affine permutation", """2L \* i \+ 1\b""", "operators/Dedup.scala"),
    Model("LSH band key", """md5\(concat_ws\(",",\s*transform\(slice\(""",
      "operators/Dedup.scala"),
    Model("bucket-pair explode", """m1\.doc_id"\)?\s*<\s*(col\(|\$)"m2\.doc_id"""",
      "operators/Dedup.scala"),
    Model("signature agreement", """\(x, y\) => x === y\)""", "operators/Dedup.scala"),
    Model("shingle pair join", """col\("a\.doc_id"\)\s*<\s*col\("b\.doc_id"\)""",
      "operators/Dedup.scala"),
    Model("Knuth multiplicative hash", "2654435761", "functions/Fns.scala"),
  )

  /** (model, file) -> extra sites outside the home file. */
  private val allowed: Map[(String, String), Int] = Map(
    // DocStreams.minhashSig: the streaming signature is a per-row typed
    // loop — a stateless stream cannot use the batch group-by form (its
    // other per-row form, probeBandKeys, is SQL inside a """ string)
    ("MinHash affine permutation", "streaming/DocStreams.scala") -> 1,
  )

  /** The file's code outside `"""` strings. */
  private def code(src: String): String =
    src.split("\"\"\"", -1).zipWithIndex.collect { case (part, i) if i % 2 == 0 => part }
      .mkString("\n")

  test("each shared corpus model is defined once in src/main") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val sources = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val it = java.nio.file.Files.walk(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (p.getFileName.toString.endsWith(".scala")) {
        val src = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        sources += root.relativize(p).toString -> code(src)
      }
    }
    assert(sources.exists(_._1 == "functions/Fns.scala"), "scan root not found")
    val msg = new StringBuilder
    models.foreach { m =>
      val re = m.fragment.r
      val found = sources.map { case (f, c) => f -> re.findAllIn(c).size }
        .filter(_._2 > 0).toMap
      val want = Map(m.home -> 1) ++
        allowed.collect { case ((n, f), k) if n == m.name => f -> k }
      if (found != want) msg.append(
        s"\n  ${m.name}: found ${found.toSeq.sorted.mkString(", ")}; " +
          s"want ${want.toSeq.sorted.mkString(", ")}")
    }
    assert(msg.isEmpty,
      "a shared corpus model is defined more than once (or not at its home):" +
        msg + "\nCall the one definition instead of pasting a copy.")
  }
}
