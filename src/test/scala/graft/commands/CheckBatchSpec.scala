package graft.commands

import org.scalatest.funsuite.AnyFunSuite
import graft.commands.VerifyFull.{BatchCounts, BlockCounts, BlockRec, KindCounts, TxRec}

/** [[VerifyFull.checkBatch]] on hand-built batches, without Spark: each
  * content check of one merge batch, and the SQL null rules it keeps (a
  * null hash or txid never matches).
  */
class CheckBatchSpec extends AnyFunSuite {

  private def h(n: Long): String = f"$n%064x"
  private def block(height: Long, txids: String*): BlockRec =
    BlockRec(height, h(height), h(height - 1), txids)
  private def tx(txid: String, bad: Boolean = false) = TxRec("txes", txid, bad)

  test("a sound batch: full coverage, intact links, matching top, every txid once") {
    val c = VerifyFull.checkBatch(10L, 12L, Seq(block(10, "a"), block(11), block(12, "b", "c")),
      Seq(tx("a"), tx("b"), tx("c")), canonicalAtEnd = Seq(h(12)))
    assert(c === BatchCounts(Some(BlockCounts(3, 3, 0, 0, 0, Some(0))),
      Map("txes" -> KindCounts(0, 3, 3, 0, 0))))
  }

  test("coverage, duplicate heights and range violations are counted per record") {
    val c = VerifyFull.checkBatch(10L, 12L,
      Seq(block(10), block(10), block(13), block(12)), Nil, Seq(h(12)))
    val b = c.blocks.get
    assert((b.n, b.nd, b.rangeViol) === ((4L, 3L, 1L)))
    assert(c.kinds.isEmpty)
  }

  test("chain links compare every record pair at h and h+1; nulls never break") {
    val forked = BlockRec(11L, h(11), h(999), Nil) // a second record at 11, off-chain
    val noParent = BlockRec(12L, h(12), null, Nil)
    val c = VerifyFull.checkBatch(10L, 12L, Seq(block(10), block(11), forked, noParent),
      Nil, Nil).blocks.get
    // 10 → both records at 11: one matches, one breaks; 11 → 12: parent is null
    assert(c.breaks === 1L)
    assert(c.badJson === 1L)
  }

  test("top hash: every top record against every canonical row at the end height") {
    val tops = Seq(block(5), BlockRec(5L, h(77), h(4), Nil))
    val top = (canonical: Seq[String]) =>
      VerifyFull.checkBatch(5L, 5L, tops, Nil, canonical).blocks.get.topBad
    assert(top(Seq(h(5))) === Some(1L))
    assert(top(Seq(h(5), h(77))) === Some(2L))
    assert(top(Seq(null)) === Some(0L)) // a null canonical hash never mismatches
    assert(top(Nil) === None) // no canonical row at the end: no verdict
    assert(VerifyFull.checkBatch(5L, 6L, tops, Nil, Seq(h(6))).blocks.get.topBad === None)
  }

  test("txids: missing counts every expected listing, unexpected every record") {
    val blocks = Seq(block(1, "a", "b", null), block(2, "a"))
    val c = VerifyFull.checkBatch(1L, 2L, blocks,
      Seq(tx("b"), tx("b"), tx("z"), tx(null), tx("b", bad = true),
        TxRec("traces", "a", bad = false)), Nil)
    // "a" is listed twice and absent from txes: 2 missing; the null listing
    // expects nothing; "z" and the null txid are unexpected
    assert(c.kinds("txes") === KindCounts(badNull = 1, n = 5, nd = 2, unexpected = 2,
      missing = 2))
    assert(c.kinds("traces") === KindCounts(0, 1, 1, 0, 1))
  }

  test("a batch with tx records and no block record has no block counts") {
    val c = VerifyFull.checkBatch(1L, 1L, Nil, Seq(tx("a")), Seq(h(1)))
    assert(c.blocks === None)
    assert(c.kinds("txes") === KindCounts(0, 1, 1, 1, 0))
  }
}
