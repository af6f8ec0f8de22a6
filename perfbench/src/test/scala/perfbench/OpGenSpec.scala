package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpGenSpec extends AnyFunSuite {
  private val Batch = 6

  private def initial(n: Int): Seq[LRow] = {
    val rng = new scala.util.Random(99)
    (0 until n).map { i =>
      val day = 9131 + rng.nextInt(2500)
      LRow(i, rng.nextInt(1000), rng.nextInt(200), rng.nextInt(10), 1 + rng.nextInt(7),
        1 + rng.nextInt(50), 1000.0 + i, rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
        "N", "O", day, LRow.yearOf(day))
    }
  }

  /** The op list of a model-only run: writes applied to the model, each
    * write and compact standing for one committed version.
    */
  private def opList(seed: Long, n: Int): Seq[CdcOp] = {
    val m = new CdcModel(initial(500))
    val gen = new OpGen(seed, Batch)
    var v = 1L
    m.commit(v)
    (0 until n).map { _ =>
      val op = gen.next(m)
      op.cls match {
        case "write" => m.apply(op); v += 1; m.commit(v)
        case _ if op == CdcOp.Compact => v += 1; m.commit(v)
        case _ => ()
      }
      op
    }
  }

  test("the same seed gives the same operation list") {
    assert(opList(7, 400) == opList(7, 400))
    assert(opList(7, 400) != opList(8, 400))
  }

  test("every deck holds each op kind exactly once, in the fixed order") {
    val kinds = OpGen.Kinds
    assert(kinds.distinct.size == kinds.size)
    opList(3, kinds.size * 20).grouped(kinds.size).foreach(deck => assert(deck.map(_.kind) == kinds))
  }

  test("op sizes are fixed: the seed picks rows, not how many") {
    val g = new OpGen(0, Batch)
    Seq(4L, 5L).foreach { seed =>
      opList(seed, 64).foreach {
        case CdcOp.Append(rs) => assert(rs.size == Batch)
        case CdcOp.Merge(rs, _) => assert(rs.size == Batch && g.MergeUpdates + g.MergeInserts == Batch)
        case CdcOp.Delete(ks, _) => assert(ks.size == Batch)
        case CdcOp.Update(ks, _) => assert(ks.size == Batch)
        case CdcOp.Range(a, b) => assert(b - a == g.RangeDays)
        case _ => ()
      }
    }
  }

  test("DML size is a TPC-H refresh: 0.1% of the table") {
    assert(OpGen.batchFor(30000) == 30)
    assert(OpGen.batchFor(500) == 2)
  }

  test("the time-travel read reaches the merge-on-read merge's version") {
    val m = new CdcModel(initial(500))
    val gen = new OpGen(3, Batch)
    val committedBy = scala.collection.mutable.ArrayBuffer("load")
    m.commit(1L)
    (0 until OpGen.Kinds.size * 3).foreach { _ =>
      gen.next(m) match {
        case CdcOp.TimeTravel(back) => assert(committedBy(committedBy.size - 1 - back) == "merge_mor")
        case op if op.cls == "write" || op == CdcOp.Compact =>
          m.apply(op); committedBy += op.kind; m.commit(committedBy.size.toLong)
        case _ => ()
      }
    }
    assert(m.versions.size == committedBy.size)
  }

  test("DML predicates are drawn from live keys, so no DML is a no-op") {
    val m = new CdcModel(initial(300))
    val gen = new OpGen(11, Batch)
    m.commit(1L)
    (0 until 500).foreach { i =>
      val op = gen.next(m)
      op match {
        case CdcOp.Delete(ks, _) => assert(ks.nonEmpty && ks.forall(m.rows.contains))
        case CdcOp.Update(ks, _) => assert(ks.nonEmpty && ks.forall(m.rows.contains))
        case _ => ()
      }
      if (op.cls == "write") assert(m.apply(op) > 0)
      m.commit(i + 2L)
    }
  }
}
