package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  private def fp(rows: Seq[Row], cols: Seq[String] = Seq("a")) = Fingerprint.of(cols, rows)

  test("p90 is refused unless at least 10 samples lie above it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == Some(90.0))
    assert(Stats.percentile(xs.take(99), 0.9).isEmpty)
    assert(Stats.percentile(xs.take(20), 0.9).isEmpty)
    assert(Stats.samplesNeeded(0.9) == 100)
    assert(Stats.percentile(xs.take(20), 0.5) == Some(10.0))
    assert(Stats.percentile(Nil, 0.5).isEmpty)
  }

  test("median averages the middle pair of an even count") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("geometric mean weighs every op by its relative change") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assert(math.abs(Stats.geomean(Seq(2.0, 200.0)) / Stats.geomean(Seq(1.0, 200.0)) - math.sqrt(2)) < 1e-9)
    assertThrows[IllegalArgumentException](Stats.geomean(Nil))
  }

  test("failures are counted against attempts, with their reasons") {
    val t = new Tally
    assert(t.failedFrac == 0.0)
    t.record("q1#1", None)
    t.record("q2#2", Some("fingerprint"))
    t.record("txn#3", Some("threw IOException"))
    t.record("q1#4", None)
    assert(t.attempted == 4 && t.failed == 2 && t.failedFrac == 0.5)
    assert(t.reasons == Seq("q2#2: fingerprint", "txn#3: threw IOException"))
  }

  test("fingerprint ignores row order but counts duplicate rows") {
    val rows = Seq(Row(1L, "x"), Row(2L, "y"))
    assert(fp(rows) == fp(rows.reverse))
    assert(fp(rows :+ rows.head) != fp(rows))
    assert(fp(rows :+ rows.head).rows == 3)
    assert(fp(rows, Seq("a")) != fp(rows, Seq("b")))
  }

  test("floats are rounded to six significant digits and snapped near zero") {
    assert(fp(Seq(Row(0.1 + 0.2))) == fp(Seq(Row(0.3))))
    assert(fp(Seq(Row(1234567.0))) == fp(Seq(Row(1234567.4))))
    assert(fp(Seq(Row(1.001))) != fp(Seq(Row(1.0))))
    assert(fp(Seq(Row(1e-12))) == fp(Seq(Row(-3e-13))))
    assert(fp(Seq(Row(-0.0))) == fp(Seq(Row(0.0))))
    assert(fp(Seq(Row(0.5f))) == fp(Seq(Row(0.5))))
  }

  test("NaN, infinities and nulls have their own spellings") {
    assert(fp(Seq(Row(Double.NaN))) == fp(Seq(Row(Float.NaN))))
    assert(fp(Seq(Row(Double.NaN))) != fp(Seq(Row(null))))
    assert(fp(Seq(Row(Double.PositiveInfinity))) != fp(Seq(Row(Double.NegativeInfinity))))
    assert(fp(Seq(Row(null))) != fp(Seq(Row("null"))))
    assert(fp(Seq(Row(null, "a"))) != fp(Seq(Row("a", null))))
  }

  test("arrays keep their order, maps do not, structs recurse") {
    assert(fp(Seq(Row(Seq(1, 2)))) != fp(Seq(Row(Seq(2, 1)))))
    assert(fp(Seq(Row(Seq(1.0000001)))) == fp(Seq(Row(Seq(1.0)))))
    assert(fp(Seq(Row(Map("a" -> 1, "b" -> 2)))) == fp(Seq(Row(Map("b" -> 2, "a" -> 1)))))
    assert(fp(Seq(Row(Map("a" -> 1)))) != fp(Seq(Row(Map("a" -> 2)))))
    assert(fp(Seq(Row(Row(1, Double.NaN)))) == fp(Seq(Row(Row(1, Double.NaN)))))
    assert(fp(Seq(Row(Row(1, 2)))) != fp(Seq(Row(Row(2, 1)))))
    // strings are length-prefixed, so a separator inside one cannot forge two
    assert(fp(Seq(Row(Seq("a,b")))) != fp(Seq(Row(Seq("a", "b")))))
  }

  test("decimals compare by value, timestamps by instant") {
    assert(Fingerprint.canon(new java.math.BigDecimal("1.50")) ==
      Fingerprint.canon(new java.math.BigDecimal("1.5")))
    assert(Fingerprint.canon(new java.math.BigDecimal("0.000")) ==
      Fingerprint.canon(java.math.BigDecimal.ZERO))
    val i = java.time.Instant.parse("2024-01-02T03:04:05.123456Z")
    assert(Fingerprint.canon(java.sql.Timestamp.from(i)) == Fingerprint.canon(i))
    assert(Fingerprint.canon(java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)) ==
      Fingerprint.canon(i))
  }

  test("the same seed gives the same op order and transaction plan") {
    for (w <- Workloads.Names) {
      assert(Workloads.round(w, 7, 0, 1) == Workloads.round(w, 7, 0, 1))
      assert(Workloads.round(w, 7, 0, 1) != Workloads.round(w, 8, 0, 1))
      assert(Workloads.round(w, 7, 0, 1) != Workloads.round(w, 7, 1, 1))
    }
    assert(Workloads.txnPlan(7, 0, 1) == Workloads.txnPlan(7, 0, 1))
    assert(Workloads.txnPlan(7, 0, 1) != Workloads.txnPlan(8, 0, 1))
  }

  test("every seed does the same amount of work") {
    val shape = Workloads.TxnShape
    for (seed <- 1L to 50L) {
      for (w <- Seq("olap_joins", "corpus_similarity"))
        assert(Workloads.round(w, seed, 0, 1).map(_.name).sorted ==
          Workloads.round(w, 1, 0, 1).map(_.name).sorted)
      val plan = Workloads.txnPlan(seed, 0, 1)
      assert(plan.size == shape.txns && plan.count(!_.commit) == shape.aborts)
      assert(plan.groupBy(_.table).values.map(_.size).toSet == Set(shape.txns / 2))
      plan.groupBy(_.table).values.foreach { ts =>
        val slices = ts.flatMap(_.slices)
        assert(slices.distinct.size == slices.size, "a table's slices repeat within a round")
      }
      val round = Workloads.ingestRound(seed, 0, 1)
      assert(round.map(_.name).sorted == Workloads.ingestRound(1, 0, 1).map(_.name).sorted)
      assert(round.takeRight(2).map(_.name) == Seq("txn.inflight", "txn.recover_read"))
      // the writes keep their order, with maintenance after every few txns
      val writes = round.filterNot(_.isInstanceOf[QueryOp]).dropRight(2)
      assert(writes.collect { case t: TxnOp => t } == plan)
      assert(writes.zipWithIndex.collect { case (MaintenanceOp(), i) => i } ==
        (1 to shape.txns / shape.maintenanceEvery).map(k => k * (shape.maintenanceEvery + 1) - 1))
    }
  }

  test("self time is a span's duration minus its children's union") {
    val spans = Seq(
      Span(1, "op", 1, 0, 0, 100),
      Span(2, "queries.construct", 1, 1, 10, 30),
      Span(3, "exec.run", 1, 1, 20, 50),
      Span(4, "plans.optimize", 1, 3, 25, 35),
      Span(5, "txn.insert", 1, 1, 60, 70))
    val self = Spans.selfTimes(spans)
    assert(self == Map(1 -> 50L, 2 -> 20L, 3 -> 20L, 4 -> 10L, 5 -> 10L))
    assert(Spans.selfByLayer(spans) ==
      Map("op" -> 50L, "queries" -> 20L, "exec" -> 20L, "plans" -> 10L, "txn" -> 10L))
  }
}
