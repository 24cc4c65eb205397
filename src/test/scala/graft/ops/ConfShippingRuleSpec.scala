package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The conf-shipping rule made mechanical: task code gets the session's
  * Hadoop conf only through [[Fs.broadcastConf]] — one broadcast per
  * job, deserialized once per executor — so no source can go back to
  * shipping a full copy of the conf inside every task. Reads the
  * sources relative to the project root, the forked test JVM's working
  * directory. */
class ConfShippingRuleSpec extends AnyFunSuite {

  private val constructs = """\bnew\s+(?:[\w.]+\.)?SerializableConf(?:iguration)?\b""".r

  test("no src/main file but Fs.scala constructs a SerializableConf") {
    val root = new java.io.File("src/main/scala")
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
        .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    val files = walk(root).filter(_.getName.endsWith(".scala"))
    assert(files.exists(_.getName == "Fs.scala"),
      s"sources not found under ${root.getAbsolutePath}")
    val hits = for {
      f <- files.sortBy(_.getPath) if f.getName != "Fs.scala"
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, n) <- try src.getLines().toList.zipWithIndex finally src.close()
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if constructs.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${n + 1}: $code"
    assert(hits.isEmpty, "a Hadoop conf shipped outside Fs.broadcastConf — " +
      s"broadcast it once per job instead:\n${hits.mkString("\n")}")
  }
}
