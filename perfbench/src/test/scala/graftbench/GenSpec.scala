package graftbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val shape = Main.steady(2).shape
  private val zipf = new Gen.Zipf(shape.pairs, shape.zipfS)

  private def feed(seed: Long): Map[String, Seq[Byte]] = {
    val root = Files.createTempDirectory("gen").toFile
    try {
      // write in reverse order: the bytes may not depend on the schedule
      for (h <- (0 until shape.handles).reverse; n <- (0 until 3).reverse)
        Gen.writePage(root.getPath, h, n, Gen.pageLines(seed, shape, zipf, h, n))
      root.listFiles().toSeq.flatMap(_.listFiles()).map { f =>
        s"${f.getParentFile.getName}/${f.getName}" -> Files.readAllBytes(f.toPath).toSeq
      }.toMap
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("the same seed gives byte-identical pages, and no dot-files are left") {
    val a = feed(7)
    assert(a.size == shape.handles * 3)
    assert(a.keys.forall(k => !k.split("/")(1).startsWith(".")))
    assert(a == feed(7))
    assert(a != feed(8))
  }

  test("page lines carry the CursorPollSource fields in order") {
    val lines = Gen.pageLines(3, shape, zipf, 1, 2)
    assert(lines.length == shape.rowsPerPage)
    lines.foreach { l =>
      val f = l.split("\t", -1)
      assert(f.length == 9)
      assert(f(7).toLong >= Gen.T0Us + Gen.pageDueUs(shape, 1, 2))
      f(5).toBoolean
      f(6).toDouble
    }
    assert(lines.map(_.split("\t")(0)).distinct.length == lines.length)
  }

  test("Zipf keys make most steady posts update a key; backlog posts are distinct") {
    val texts = (0 until 4).flatMap(n => Gen.pageLines(1, shape, zipf, 0, n))
      .map(l => l.split("\t", 9)).map(f => (f(4), f(8)))
    assert(texts.distinct.size < texts.size / 2)
    val b = Main.backlog.shape
    val bz = new Gen.Zipf(b.pairs, b.zipfS)
    val bt = (0 until 2).flatMap(n => Gen.pageLines(1, b, bz, 0, n)).map(_.split("\t", 9)(8))
    assert(bt.distinct.size == bt.size)
  }

  test("document batches are deterministic and mix new, near-duplicate and re-delivered docs") {
    val spec = Main.docs(10)
    val a = Gen.docBatches(5, spec.shape, spec.batches)
    assert(a == Gen.docBatches(5, spec.shape, spec.batches))
    assert(a != Gen.docBatches(6, spec.shape, spec.batches))
    assert(a.forall(_.size == spec.shape.batchDocs))
    val all = a.flatten
    val redelivered = all.size - all.map(_._1).distinct.size
    assert(redelivered > 0)
    val texts = all.groupBy(_._1).map(_._2.head._2).toSeq
    assert(texts.distinct.size < texts.size) // exact copies under new ids
    val ids = all.map(_._1)
    assert(Gen.forgetSlice(5, ids, 0.03) == Gen.forgetSlice(5, ids, 0.03))
    assert(Gen.forgetSlice(5, ids, 0.03).nonEmpty)
  }
}
