package perfbench

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import graft.infer.JsonInfer
import graft.types.HType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The generators are deterministic in the seed, and the discover
  * corpus has the same shape under every seed. */
class GenSpec extends AnyFunSuite {

  private def corpus(seed: Long): (Array[Byte], Gen.CorpusStats, Path) = {
    val f = Files.createTempFile("perfbench-gen", ".json")
    val st = Gen.writeCorpus(seed, f, 2L << 20)
    val bytes = Files.readAllBytes(f)
    (bytes, st, f)
  }

  private def shape(f: Path): (Int, Int) = {
    val t = JsonInfer.inferAll(Files.readAllLines(f).asScala).canonical
    (Shape.leafPaths(t), Shape.unionPaths(t))
  }

  /** Number buckets of every numeric literal in the file. */
  private def buckets(f: Path): Set[String] = {
    val p = new JsonFactory().createParser(f.toFile)
    val kinds = scala.collection.mutable.Set.empty[String]
    try {
      var tok = p.nextToken()
      while (tok != null) {
        if (tok == JsonToken.VALUE_NUMBER_INT || tok == JsonToken.VALUE_NUMBER_FLOAT)
          kinds += JsonInfer.classifyNumber(p.getText).toString.takeWhile(_ != '(')
        tok = p.nextToken()
      }
    } finally p.close()
    kinds.toSet
  }

  test("the same seed gives byte-identical corpora and stats") {
    val (a, sa, fa) = corpus(11)
    val (b, sb, fb) = corpus(11)
    try {
      assert(java.util.Arrays.equals(a, b))
      assert(sa == sb)
      assert(sa.bytes == a.length.toLong)
    } finally { Files.delete(fa); Files.delete(fb) }
  }

  test("another seed gives other bytes with the same shape counts and buckets") {
    val (a, sa, fa) = corpus(11)
    val (b, sb, fb) = corpus(12)
    try {
      assert(!java.util.Arrays.equals(a, b))
      val (leavesA, unionsA) = shape(fa)
      val (leavesB, unionsB) = shape(fb)
      assert(leavesA == leavesB && unionsA == unionsB)
      assert(leavesA > 100, s"only $leavesA leaf paths")
      assert(unionsA > 0 && unionsA < leavesA / 10, s"$unionsA union paths")
      val want = Set("tinyint", "smallint", "int", "bigint", "decimal")
      assert(sa.numberBuckets == want && sb.numberBuckets == want)
      assert(want.subsetOf(buckets(fa)) && want.subsetOf(buckets(fb)))
    } finally { Files.delete(fa); Files.delete(fb) }
  }

  test("the head of the corpus already carries the full shape") {
    val f = Files.createTempFile("perfbench-gen", ".json")
    try {
      Gen.writeCorpus(5, f, 0L) // writes exactly the full-shape head
      val big = Files.createTempFile("perfbench-gen", ".json")
      try {
        Gen.writeCorpus(5, big, 1L << 20)
        assert(shape(f) == shape(big))
      } finally Files.delete(big)
    } finally Files.delete(f)
  }

  test("narrow rows are a pure function of (seed, id)") {
    assert(Gen.rowsJson(3, 0, 100) == Gen.rowsJson(3, 0, 100))
    assert(Gen.rowsJson(3, 0, 100) != Gen.rowsJson(4, 0, 100))
    val t = JsonInfer.inferAll(Gen.rowsJson(3, 0, 5000))
    assert(Shape.leafPaths(t) == 9, HType.merge(null, t).toString)
  }
}
