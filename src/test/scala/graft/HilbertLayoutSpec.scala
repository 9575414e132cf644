package graft

import org.apache.spark.sql.functions._

import graft.expressions.HilbertIndex

/** Ground truth for the order-16 Hilbert key and the layout queries
  * built on it. The curve is pinned by its two defining properties
  * (bijectivity via a reference inverse walk, and unit-step
  * adjacency — consecutive positions are always grid neighbors, the
  * exact property Morton lacks at quadrant seams), plus
  * codegen/interpreted parity through a real DataFrame. The layout
  * queries are pinned structurally on the real corpus (the
  * which-curve-skips-more VERDICT is data-dependent and lives in
  * BENCH_NOTES as a measured sf0.1 number, not as a fixture
  * assertion a tiny corpus could flip).
  */
class HilbertLayoutSpec extends SparkSpecBase {
  import spark.implicits._

  /** Reference inverse (d → (x, y)): the canonical low-to-high
    * quadrant walk — independent of the production code's
    * high-to-low forward walk, so the round-trip test actually
    * cross-checks two formulations.
    */
  private def d2xy(dIn: Long): (Long, Long) = {
    var t = dIn
    var x = 0L
    var y = 0L
    var s = 1L
    while (s < 65536L) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0L) {
        if (rx == 1L) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  test("round trip: index(d2xy(d)) == d across the full curve range") {
    val rnd = new scala.util.Random(42)
    val ds = (0L until 4096L) ++                      // curve start
      ((1L << 32) - 4096L until (1L << 32)) ++        // curve end
      Seq.fill(20000)(rnd.nextLong(1L << 32))         // uniform interior
    ds.foreach { d =>
      val (x, y) = d2xy(d)
      assert(HilbertIndex.index(x, y) == d, s"round trip failed at d=$d ($x,$y)")
    }
  }

  test("unit-step adjacency: consecutive positions are grid neighbors") {
    val rnd = new scala.util.Random(7)
    val starts = Seq(0L, (1L << 31) - 2048L, (1L << 32) - 4096L) ++
      Seq.fill(50)(rnd.nextLong((1L << 32) - 4096L))
    starts.foreach { start =>
      var (px, py) = d2xy(start)
      (start + 1 until start + 4096).foreach { d =>
        val (x, y) = d2xy(d)
        assert(math.abs(x - px) + math.abs(y - py) == 1,
          s"curve jumps at d=$d: ($px,$py) -> ($x,$y)")
        px = x; py = y
      }
    }
  }

  test("corner values: grid corners land at the analytic curve positions") {
    // the order-16 curve enters at (0,0) and exits at (65535,0); the
    // far corners sit at exactly 1/3 and 2/3 of the curve — d(0, n-1)
    // = (4^16 - 1)/3 = 0x55555555 (the sum Σ 4^k of one quadrant per
    // recursion level), d(n-1, n-1) twice that
    assert(HilbertIndex.index(0L, 0L) == 0L)
    assert(HilbertIndex.index(0L, 65535L) == 0x55555555L)
    assert(HilbertIndex.index(65535L, 65535L) == 2L * 0x55555555L)
    assert(HilbertIndex.index(65535L, 0L) == (1L << 32) - 1)
    // only low 16 bits participate
    assert(HilbertIndex.index(65536L + 3L, 7L) == HilbertIndex.index(3L, 7L))
  }

  test("codegen parity: the DataFrame path matches the static walk") {
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(2000)((rnd.nextLong(65536L), rnd.nextLong(65536L)))
    val got = pts.toDF("x", "y")
      .select(expr("hilbert_index(x, y)").as("h")).collect().map(_.getLong(0))
    pts.zip(got).foreach { case ((x, y), h) =>
      assert(h == HilbertIndex.index(x, y), s"mismatch at ($x,$y)")
    }
  }

  test("layout queries: both curves cut identical files over identical rows") {
    val mf = SparkEntry.queries("q_layout_zorder")(spark, sfDir).collect()
    val hf = SparkEntry.queries("q_layout_hilbert")(spark, sfDir).collect()
    assert(mf.length == hf.length, "file counts must match (same cut rule)")
    assert(mf.map(_.getLong(1)).sum == hf.map(_.getLong(1)).sum,
      "total rows must match")
    // every file's footprint sits inside the corpus bounds
    val pmin = mf.map(_.getLong(2)).min
    val pmax = mf.map(_.getLong(3)).max
    hf.foreach { r =>
      assert(r.getLong(2) >= pmin && r.getLong(3) <= pmax)
    }
  }

  test("compare: 24 rows, identical probes and file counts across layouts") {
    val rows = SparkEntry.queries("q_layout_compare")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.length == 24)
    val (h, m) = rows.partition(_._1 == "hilbert")
    assert(h.length == 12 && m.length == 12)
    // probes (id, kind, lo, hi) and n_files line up pairwise
    val key = (t: (String, Long, String, Long, Long, Long, Long)) =>
      (t._2, t._3, t._4, t._5, t._6)
    assert(h.map(key).sorted.sameElements(m.map(key).sorted),
      "both layouts must face identical probes over equally many files")
    // admission is sane: never more files admitted than exist
    rows.foreach(t => assert(t._7 <= t._6))
  }
}
