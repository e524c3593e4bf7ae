package graft.ext

import graft.SparkSpec

class AsOfJoinSpec extends SparkSpec {

  test("backward as-of attaches the latest right row at-or-before each left time") {
    import spark.implicits._
    val left = Seq((1L, 10L, "e1"), (1L, 20L, "e2"), (2L, 5L, "e3"), (3L, 9L, "e4"))
      .toDF("k", "lt", "tag")
    val right = Seq((1L, 10L, 100L), (1L, 15L, 101L), (2L, 6L, 200L))
      .toDF("k", "rt", "v")
    val out = AsOfJoin.backward(left, right, "k", "lt", "rt", Seq("v"))
      .as[(Long, Long, String, Long, Long)].collect()
      .map(r => r._3 -> (r._4, r._5)).toMap

    // equal timestamps: the right row IS visible (>= semantics)
    assert(out("e1") == (100L, 10L))
    // strictly-later right rows are not; the latest earlier one wins
    assert(out("e2") == (101L, 15L))
    // left rows with no at-or-before match drop (inner as-of), as do
    // keys absent from the right side
    assert(!out.contains("e3") && !out.contains("e4"))
    assert(out.size == 2)
  }

  test("forward as-of attaches the earliest right row at-or-after; tolerance bounds the distance") {
    import spark.implicits._
    val left = Seq((1L, 10L, "e1"), (1L, 16L, "e2"), (2L, 5L, "e3"))
      .toDF("k", "lt", "tag")
    val right = Seq((1L, 10L, 100L), (1L, 15L, 101L), (1L, 40L, 102L))
      .toDF("k", "rt", "v")
    val fwd = AsOfJoin.forward(left, right, "k", "lt", "rt", Seq("v"))
      .as[(Long, Long, String, Long, Long)].collect()
      .map(r => r._3 -> (r._4, r._5)).toMap
    // equal timestamps visible (<= semantics); else the earliest later row
    assert(fwd("e1") == (100L, 10L))
    assert(fwd("e2") == (102L, 40L))
    assert(!fwd.contains("e3") && fwd.size == 2)
    // tolerance: e2's nearest-after is 24 ticks away — beyond tol=10 it drops
    val tol = AsOfJoin.forward(left, right, "k", "lt", "rt", Seq("v"), tolerance = Some(10L))
      .as[(Long, Long, String, Long, Long)].collect()
      .map(r => r._3 -> (r._4, r._5)).toMap
    assert(tol == Map("e1" -> ((100L, 10L))))
    // backward tolerance mirrors: at lt=16 the match rt=15 is within 10
    val btol = AsOfJoin.backward(left, right, "k", "lt", "rt", Seq("v"), tolerance = Some(10L))
      .as[(Long, Long, String, Long, Long)].collect()
      .map(r => r._3 -> (r._4, r._5)).toMap
    assert(btol == Map("e1" -> ((100L, 10L)), "e2" -> ((101L, 15L))))
  }

  test("carried columns all come from the SAME matched right row, nulls included") {
    import spark.implicits._
    // the r3 ADVICE scenario: the latest right row has a NULL in one
    // carried column — per-column carry would stitch v1 from an OLDER row
    // onto the newer row's asof_time; whole-row carry must keep the null
    val left = Seq((1L, 20L, "e1")).toDF("k", "lt", "tag")
    val right = Seq(
      (1L, 10L, Option(100L), Option("old")),
      (1L, 15L, Option.empty[Long], Option("new")))
      .toDF("k", "rt", "v1", "v2")
    val got = AsOfJoin.backward(left, right, "k", "lt", "rt", Seq("v1", "v2"))
      .select("tag", "v1", "v2", "asof_time")
      .as[(String, Option[Long], String, Long)].collect()
    assert(got.toSeq == Seq(("e1", None, "new", 15L)))
  }

  test("reserved internal column names fail fast") {
    import spark.implicits._
    val right = Seq((1L, 10L, 100L)).toDF("k", "rt", "v")
    val badLeft = Seq((1L, 10L, 0L)).toDF("k", "lt", "__t")
    intercept[IllegalArgumentException] {
      AsOfJoin.backward(badLeft, right, "k", "lt", "rt", Seq("v"))
    }
    val badRight = Seq((1L, 10L, 100L, 0)).toDF("k", "rt", "v", "__side")
    intercept[IllegalArgumentException] {
      AsOfJoin.backward(Seq((1L, 10L)).toDF("k", "lt"), badRight, "k", "lt", "rt", Seq("v"))
    }
  }

  test("as-of (both directions, with/without tolerance) matches a per-row scan on random-ish data") {
    import spark.implicits._
    // deterministic pseudo-random fixture; verify against a brute-force
    // driver-side reimplementation
    val lrows = (0 until 80).map(i => ((i % 5).toLong, (i * 37 % 100).toLong, i.toLong))
    val rrows = (0 until 30).map(i => ((i % 5).toLong, (i * 23 % 90).toLong, (1000 + i).toLong))
      // one right row per (key, time): keep max id like the query contract
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val l = lrows.toDF("k", "lt", "id")
    val r = rrows.toDF("k", "rt", "v")
    for (fwd <- Seq(false, true); tol <- Seq(None, Some(15L))) {
      val dir = if (fwd) AsOfJoin.forward _ else AsOfJoin.backward _
      val got = dir(l, r, "k", "lt", "rt", Seq("v"), tol)
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(x => x._3 -> (x._4, x._5)).toMap
      val want = lrows.flatMap { case (k, lt, id) =>
        val matches = rrows.filter(rr => rr._1 == k &&
          (if (fwd) rr._2 >= lt else rr._2 <= lt))
        if (matches.isEmpty) None
        else {
          val m = if (fwd) matches.minBy(_._2) else matches.maxBy(_._2)
          val dist = if (fwd) m._2 - lt else lt - m._2
          if (tol.exists(dist > _)) None else Some(id -> (m._3, m._2))
        }
      }.toMap
      assert(got == want, s"forward=$fwd tol=$tol")
    }
  }

  test("nearest as-of picks the closer side; equal distance -> backward (pandas rule)") {
    import spark.implicits._
    val left = Seq((1L, 10L, 1L), (1L, 13L, 2L), (2L, 50L, 3L), (3L, 7L, 4L))
      .toDF("k", "lt", "id")
    val right = Seq((1L, 8L, 100L), (1L, 16L, 101L), (2L, 44L, 200L), (2L, 56L, 201L))
      .toDF("k", "rt", "v")
    val got = AsOfJoin.nearest(left, right, "k", "id", "lt", "rt", Seq("v"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(x => x._3 -> (x._4, x._5)).toMap
    assert(got(1L) == (100L, 8L))  // dist 2 back vs 6 fwd
    assert(got(2L) == (101L, 16L)) // dist 5 back vs 3 fwd
    assert(got(3L) == (200L, 44L)) // EQUAL dist 6 both ways -> backward
    assert(!got.contains(4L))      // key absent from right: dropped
    // tolerance applies per direction before arbitration
    val tol = AsOfJoin.nearest(left, right, "k", "id", "lt", "rt", Seq("v"),
      tolerance = Some(2L))
      .as[(Long, Long, Long, Long, Long)].collect().map(_._3).toSet
    assert(tol == Set(1L)) // only id 1 has a match within 2 ticks
  }

  test("nearest as-of matches a per-row scan on random-ish data") {
    import spark.implicits._
    val lrows = (0 until 80).map(i => ((i % 5).toLong, (i * 37 % 100).toLong, i.toLong))
    val rrows = (0 until 30).map(i => ((i % 5).toLong, (i * 23 % 90).toLong, (1000 + i).toLong))
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val got = AsOfJoin.nearest(lrows.toDF("k", "lt", "id"),
        rrows.toDF("k", "rt", "v"), "k", "id", "lt", "rt", Seq("v"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(x => x._3 -> (x._4, x._5)).toMap
    val want = lrows.flatMap { case (k, lt, id) =>
      val ms = rrows.filter(_._1 == k)
      if (ms.isEmpty) None
      else Some(id -> {
        val m = ms.minBy(r => (math.abs(r._2 - lt), if (r._2 <= lt) 0 else 1))
        (m._3, m._2)
      })
    }.toMap
    assert(got == want)
  }

  test("salted backward as-of equals backward across bucket widths and tolerances") {
    import spark.implicits._
    // times spread over many buckets; some (key, bucket) cells have left
    // rows but no right rows (seed-only matches), some the reverse
    val lrows = (0 until 200).map(i => ((i % 7).toLong, (i * 97L) % 3000L, i.toLong))
    val rrows = (0 until 60).map(i => ((i % 7).toLong, (i * 131L) % 2500L, (1000 + i).toLong))
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val l = lrows.toDF("k", "lt", "id")
    val r = rrows.toDF("k", "rt", "v")
    for (bw <- Seq(10L, 100L, 5000L); tol <- Seq(None, Some(40L))) {
      val plain = AsOfJoin.backward(l, r, "k", "lt", "rt", Seq("v"), tol)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val salted = AsOfJoin.backwardSalted(l, r, "k", "lt", "rt", Seq("v"),
          bucketWidth = bw, tolerance = tol)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(salted == plain, s"bucketWidth=$bw tol=$tol")
    }
  }

  test("salted backward as-of: planted hot key; windows are (key, bucket)-partitioned") {
    import spark.implicits._
    // one key with 20k left rows across ~20 buckets of width 1000; right
    // rows sparse (some buckets empty → multi-bucket seed carries)
    val l = (0 until 20000).map(i => (1L, i.toLong, i.toLong)).toDF("k", "lt", "id")
    val r = (0 until 10).map(i => (1L, i * 1700L, (1000 + i).toLong)).toDF("k", "rt", "v")
    val plain = AsOfJoin.backward(l, r, "k", "lt", "rt", Seq("v"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val salted = AsOfJoin.backwardSalted(l, r, "k", "lt", "rt", Seq("v"), 1000L)
    assert(salted.as[(Long, Long, Long, Long, Long)].collect().toSet == plain)
    val windows = org.apache.spark.sql.graftshim.ColumnShim.logicalPlan(salted)
      .collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    // the row-scale window is salted; the key-only window runs over
    // bucket summaries (an Aggregate/Distinct below it), never raw rows
    assert(windows.count(_.partitionSpec.length == 2) >= 1)
    windows.filter(_.partitionSpec.length == 1).foreach { w =>
      assert(w.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        case d: org.apache.spark.sql.catalyst.plans.logical.Distinct => d
      }.nonEmpty, "key-only window must sit above bucket summaries")
    }
  }

  test("salted backward rejects reserved internal column names") {
    import spark.implicits._
    val l = Seq((1L, 1L, 2L)).toDF("k", "lt", "__b")
    val r = Seq((1L, 1L, 2L)).toDF("k", "rt", "v")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.backwardSalted(l, r, "k", "lt", "rt", Seq("v"), 10L)
    }
    assert(e.getMessage.contains("__b"))
  }
}
