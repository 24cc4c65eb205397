package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The store-protocol rule made mechanical: marker and ledger files in
  * `graft.ops` are written only by [[StoreTxn]] (and [[Fs]] itself), so
  * no store can hand-write a marker protocol beside it. Reads the
  * sources relative to the project root, the forked test JVM's working
  * directory. */
class StoreMarkerRuleSpec extends AnyFunSuite {

  private val writers = """\bFs\s*\.\s*(touch|writeUtf8Atomic)\b""".r
  private val allowed = Set("StoreTxn.scala", "Fs.scala")

  test("no graft.ops file but StoreTxn and Fs calls Fs.touch or Fs.writeUtf8Atomic") {
    val dir = new java.io.File("src/main/scala/graft/ops")
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".scala"))
    assert(files.exists(_.getName == "StoreTxn.scala"),
      s"sources not found under ${dir.getAbsolutePath}")
    val hits = for {
      f <- files.toSeq.sortBy(_.getName) if !allowed(f.getName)
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, n) <- try src.getLines().toList.zipWithIndex finally src.close()
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if writers.findFirstIn(line).isDefined
    } yield s"${f.getName}:${n + 1}: $code"
    assert(hits.isEmpty, "marker writes outside StoreTxn — use a StoreTxn " +
      s"shape instead:\n${hits.mkString("\n")}")
  }
}
