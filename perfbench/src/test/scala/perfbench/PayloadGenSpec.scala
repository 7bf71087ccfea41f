package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PayloadGenSpec extends AnyFunSuite {

  private def stream(seed: Long) =
    (0L until 5L).flatMap(i => new PayloadGen(seed).batch(i).payloads.map(_.json)).mkString("\n")

  test("the same seed produces byte-identical payloads") {
    assert(stream(7).getBytes("UTF-8").sameElements(stream(7).getBytes("UTF-8")))
    // a batch depends only on (seed, index), not on the batches before it
    assert(new PayloadGen(7).batch(3) == new PayloadGen(7).batch(3))
    assert(stream(7) != stream(8))
  }

  test("a batch has the documented shape") {
    val batches = (0L until 40L).map(new PayloadGen(3).batch)
    val payloads = batches.flatMap(_.payloads)
    val quotes = payloads.flatMap(_.quotes)
    val failed = payloads.count(!_.success).toDouble / payloads.size
    val nulls = quotes.count(_._2.isEmpty).toDouble / quotes.size
    assert(PayloadGen.Targets.distinct.size == 170)
    assert(batches.forall(_.payloads.map(_.base).distinct.size == 8))
    assert(failed > 0.02 && failed < 0.10, failed)
    assert(nulls > 0.01 && nulls < 0.04, nulls)
    assert(payloads.exists(p => p.ts < batches.find(_.payloads.contains(p)).get.retrievedAt - 3000))
    assert(batches.exists(b => b.payloads.map(_.base).distinct.size < b.payloads.size))
  }
}
