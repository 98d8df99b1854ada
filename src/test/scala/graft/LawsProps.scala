package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.engine.IndexLifecycle
import graft.ops.{Clean, Joins}
import graft.streaming.EventStream

/** ScalaCheck laws for the core operators (SURVEY §5 plan item c): the
  * properties hold for ALL inputs, not just the curated fixtures — small
  * generated frames, one Spark job per evaluation.
  */
object LawsProps extends Properties("graft.laws") {
  lazy val spark = TestSession.spark
  import spark.implicits._

  // Seed discipline (round-14 verdict item 1): the r14 verify artifact
  // recorded "1 LawsProps property failed" with neither the property
  // name nor the seed — ScalaCheck reseeds every run, so the
  // counterexample was unrecoverable (a full rerun at the same commit
  // passed 90/90). Fix the initial seed up front and print it LOUDLY:
  // any future failure reproduces with
  //   GRAFT_LAWS_SEED=<printed seed> sbt 'testOnly graft.LawsProps'
  // and one property alone (its name as a regex; dots match the spaces)
  // reruns from the same seed with
  //   GRAFT_LAWS_SEED=<seed> sbt 'testOnly graft.LawsProps -- -f <regex>'
  // (ScalaCheck 1.18 additionally prints each failing property's own
  // seed, but only the suite-level seed survives a truncated log tail).
  private val initialSeed: org.scalacheck.rng.Seed =
    sys.env.get("GRAFT_LAWS_SEED") match {
      case Some(s) => org.scalacheck.rng.Seed.fromBase64(s).get
      case None => org.scalacheck.rng.Seed.random()
    }
  println(s"[laws] initialSeed=${initialSeed.toBase64} — reproduce any " +
    s"failure with GRAFT_LAWS_SEED=${initialSeed.toBase64}")

  // each evaluation runs a real Spark job — keep the sample count bounded
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withInitialSeed(initialSeed)

  private val dedupRow = for {
    id <- Gen.choose(0, 4)
    ts <- Gen.choose(0L, 4L)
    ver <- Gen.choose(0L, 100L)
  } yield (id, ts, ver)

  property("dedupLatest: one row per key, carrying the max version") =
    forAll(Gen.nonEmptyListOf(dedupRow)) { rows =>
      val out = Clean.dedupLatest(rows.toDF("id", "ts", "ver"), Seq("id", "ts"), "ver")
        .as[(Int, Long, Long)].collect()
      val expect = rows.groupBy(r => (r._1, r._2)).map { case (k, g) => k -> g.map(_._3).max }
      out.length == expect.size &&
        out.forall { case (id, ts, ver) => expect((id, ts)) == ver }
    }

  property("saltedJoin: multiset-equal to the plain join for any salt count") =
    forAll(
      Gen.listOfN(30, Gen.zip(Gen.choose(0, 6), Gen.choose(0, 100))),
      Gen.listOfN(10, Gen.choose(0, 6)),
      Gen.choose(1, 5)) { (bigRows, smallKeys, salts) =>
      val big = bigRows.toDF("k", "v")
      val small = smallKeys.map(k => (k, s"n$k")).toDF("k", "name")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "v", "name").as[(Int, Int, String)].collect().sorted.toSeq
      canon(Joins.saltedJoin(big, small, Seq("k"), salts)) ==
        canon(big.join(small, Seq("k")))
    }

  property("asOfJoin: equals the per-row brute-force latest-right lookup") =
    forAll(
      Gen.listOfN(12, Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 12L))),
      // right values INCLUDE nulls: the nearest right row must win even
      // when its value is NULL (pandas merge_asof; round-8 advice) —
      // a null-skipping fill would substitute an older non-null row
      Gen.listOfN(12, Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 12L),
        Gen.option(Gen.choose(0.0, 9.0))))) {
      (ls, rs) =>
        val left = ls.zipWithIndex.map { case ((u, ts), i) => (u, ts, i.toLong) }
        val right = rs.zipWithIndex.map { case ((u, ts, v), i) => (u, ts, v, i.toLong) }
        val got = Joins.asOfJoin(
          left.toDF("user_id", "ts", "lid"),
          right.toDF("user_id", "ts", "value", "rid"),
          Seq("user_id"), "ts", "ts", Seq(("value", "asof_value")),
          leftTiebreak = Some("lid"), rightTiebreak = Some("rid"))
          .select("lid", "asof_value")
          .as[(Long, Option[Double])].collect().toMap
        left.forall { case (u, lts, lid) =>
          // nearest row first, THEN its (possibly absent) value
          val expect = right.filter(r => r._1 == u && r._2 <= lts)
            .sortBy(r => (r._2, r._4)).lastOption.flatMap(_._3)
          got(lid) == expect
        }
    }

  property("asOfJoin: forward/backward with tolerance equal the brute-force nearest lookup") =
    forAll(
      Gen.listOfN(12, Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 12L))),
      Gen.listOfN(12, Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 12L),
        Gen.option(Gen.choose(0.0, 9.0)))),
      Gen.oneOf("backward", "forward"),
      Gen.option(Gen.choose(0, 4))) { (ls, rs, dir, tolRaw) =>
      val tol = tolRaw.map(_.toDouble)
      val left = ls.zipWithIndex.map { case ((u, ts), i) => (u, ts, i.toLong) }
      val right = rs.zipWithIndex.map { case ((u, ts, v), i) => (u, ts, v, i.toLong) }
      val got = Joins.asOfJoin(
        left.toDF("user_id", "ts", "lid"),
        right.toDF("user_id", "ts", "value", "rid"),
        Seq("user_id"), "ts", "ts", Seq(("value", "asof_value")),
        leftTiebreak = Some("lid"), rightTiebreak = Some("rid"),
        direction = dir, tolerance = tol)
        .select("lid", "asof_value")
        .as[(Long, Option[Double])].collect().toMap
      left.forall { case (u, lts, lid) =>
        val candidates =
          if (dir == "backward") right.filter(r => r._1 == u && r._2 <= lts)
          else right.filter(r => r._1 == u && r._2 >= lts)
        // backward: latest ts, greatest tiebreak; forward: earliest ts,
        // smallest tiebreak
        val pick =
          if (dir == "backward") candidates.sortBy(r => (r._2, r._4)).lastOption
          else candidates.sortBy(r => (r._2, r._4)).headOption
        // the nearest row decides; a NULL value on it propagates (it is
        // NOT skipped for an older non-null row), and tolerance measures
        // against that row's ts
        val expect = pick.filter(r =>
          tol.forall(t => math.abs(lts - r._2) <= t)).flatMap(_._3)
        got(lid) == expect
      }
    }

  property("enrich: partition_date == to_date(event ts), backfilled when null") =
    forAll(Gen.nonEmptyListOf(Gen.option(Gen.choose(0L, 200L * 86400)))) { secs =>
      val ing = java.sql.Timestamp.valueOf("2024-06-15 12:00:00")
      val rows = secs.map(_.map(s => new java.sql.Timestamp(s * 1000L)))
      val out = Clean.enrich(rows.toDF("last_updated"), "last_updated", Some(ing))
        .select("last_updated", "partition_date")
        .as[(java.sql.Timestamp, java.sql.Date)].collect()
      out.forall { case (ts, pd) =>
        ts != null && pd.toString == ts.toInstant.atZone(java.time.ZoneOffset.UTC)
          .toLocalDate.toString
      }
    }

  property("funnel: stage counts equal the brute-force progressive scan") =
    forAll(Gen.listOfN(30, Gen.zip(
      Gen.choose(0L, 5L), Gen.oneOf("view", "click", "purchase"), Gen.choose(0L, 50L)))) { evs =>
      evs.nonEmpty ==> {
        val df = evs.zipWithIndex
          .map { case ((u, t, s), i) => (u, t, new java.sql.Timestamp(s * 1000L + i)) }
          .toDF("user_id", "event_type", "ts")
        val got = graft.ops.Stats.funnel(df, "user_id", "event_type", "ts",
          Seq("view", "click", "purchase")).as[(String, Long)].collect().toMap
        // brute force: per user, earliest view, then earliest later click,
        // then earliest later purchase
        val byUser = evs.zipWithIndex.map { case ((u, t, s), i) => (u, t, s * 1000L + i) }
          .groupBy(_._1)
        def firstAfter(rows: Seq[(Long, String, Long)], t: String, after: Option[Long]) =
          rows.filter(r => r._2 == t && after.forall(r._3 > _)).map(_._3).minOption
        val stages = byUser.values.toSeq.map { rows =>
          val v = firstAfter(rows, "view", None)
          val c = v.flatMap(t => firstAfter(rows, "click", Some(t)))
          val p = c.flatMap(t => firstAfter(rows, "purchase", Some(t)))
          (v.isDefined, c.isDefined, p.isDefined)
        }
        got("view") == stages.count(_._1) &&
          got("click") == stages.count(_._2) &&
          got("purchase") == stages.count(_._3)
      }
    }

  property("mixtureSample: per-row copies follow floor(w) + stable fraction") =
    forAll(
      Gen.listOfN(20, Gen.choose(0L, 300L)),
      Gen.choose(0, 6), Gen.choose(0, 6)) { (ids, wa2, wb2) =>
      val (wa, wb) = (wa2 / 2.0, wb2 / 2.0) // weights on a 0.5 grid
      val rows = ids.distinct.map(i => (i, if (i % 2 == 0) "a" else "b"))
      val df = rows.toDF("doc_id", "source")
      val got = graft.text.Curation.mixtureSample(df, "doc_id", "source",
        Map("a" -> wa, "b" -> wb))
        .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
      def copies(id: Long, w: Double): Long =
        w.toLong + (if (id % 100 < math.rint((w - w.floor) * 100)) 1L else 0L)
      rows.forall { case (id, src) =>
        val c = copies(id, if (src == "a") wa else wb)
        got.getOrElse(id, 0L) == c
      }
    }

  property("tokenChunks: chunks tile the token stream with exact overlap") =
    forAll(Gen.choose(1, 40), Gen.choose(1, 8), Gen.choose(1, 8)) { (n, size0, stride0) =>
      val stride = math.min(stride0, size0)
      val toks = (1 to n).map(i => s"t$i")
      val got = graft.text.Curation.tokenChunks(
        Seq((1L, toks.mkString(" "))).toDF("doc_id", "text"), "doc_id", "text",
        size0, stride)
        .orderBy("chunk_idx")
        .select("chunk_text").as[String].collect().map(_.split(" ").toSeq)
      val expect = (0 until n by stride).map(s => toks.slice(s, s + size0))
      got.toSeq == expect
    }

  property("cohortRetention: equals the brute-force per-user offset count") =
    forAll(Gen.listOfN(20, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 12L)))) { evs =>
      evs.nonEmpty ==> {
        val rows = evs.map { case (u, day) =>
          (u, java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 10:00:00")) }
        val got = graft.ops.Stats.cohortRetention(
          rows.toDF("user_id", "ts"), "user_id", "ts", 7)
          .as[(java.sql.Date, Long, Long)].collect()
          .map(r => (r._1.toString, r._2) -> r._3).toMap
        val firstDay = evs.groupBy(_._1).map { case (u, g) => u -> g.map(_._2).min }
        val expect = evs.map { case (u, day) => (u, firstDay(u), day - firstDay(u)) }
          .filter(_._3 <= 7).distinct
          .groupBy { case (_, f, off) => (f"2024-01-${f + 1}%02d", off) }
          .map { case (k, g) => k -> g.map(_._1).distinct.size.toLong }
        got == expect
      }
    }

  property("gapFillHourly: every cell carries the latest at-or-before observation") =
    forAll(Gen.listOfN(12, Gen.zip(
      // integral values: the operator sums exact DECIMAL(18,6) casts,
      // so the brute force must not accumulate raw-double digits
      Gen.oneOf("a", "b"), Gen.choose(0, 8), Gen.choose(1, 9).map(_.toDouble)))) { obs =>
      obs.nonEmpty ==> {
        val rows = obs.map { case (k, h, v) =>
          (k, java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00"), v) }
        val got = graft.ops.Windows.gapFillHourly(
          rows.toDF("event_type", "ts", "value"), "event_type", "ts", "value")
          .as[(String, java.sql.Timestamp, Option[Double], Boolean)].collect()
          .map(r => (r._1, r._2.toLocalDateTime.getHour) -> (r._3, r._4)).toMap
        val hours = obs.map(_._2)
        val grid = for (k <- obs.map(_._1).distinct; h <- hours.min to hours.max)
          yield (k, h)
        // brute force: hourly mean where observed, else last earlier mean
        def mean(k: String, h: Int): Option[Double] = {
          val vs = obs.filter(o => o._1 == k && o._2 == h).map(_._3)
          if (vs.isEmpty) None
          else Some(math.rint(vs.sum / vs.size * 1e6) / 1e6)
        }
        got.keySet == grid.toSet && grid.forall { case (k, h) =>
          val expect = (hours.min to h).reverse.collectFirst(
            Function.unlift(hh => mean(k, hh)))
          got((k, h)) == ((expect, mean(k, h).isEmpty))
        }
      }
    }

  property("knnGraphBucketed: equals brute-force in-bucket ranking") =
    forAll(Gen.listOfN(8, Gen.zip(
      Gen.choose(0, 1), Gen.listOfN(3, Gen.choose(1.0f, 9.0f))))) { vecs =>
      val rows = vecs.zipWithIndex.map { case ((b, v), i) => (i.toLong, v, b) }
      val got = graft.vector.Similarity.knnGraphBucketed(
        rows.toDF("vec_id", "embedding", "label"), "vec_id", "embedding", "label", 2)
        .as[(Long, Long, Double, Long)].collect()
        .map(r => (r._1, r._4) -> r._2).toMap
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        def dot(x: Seq[Float], y: Seq[Float]) =
          x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
        math.rint(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1e6) / 1e6
      }
      rows.forall { case (id, v, b) =>
        val expect = rows.filter(r => r._3 == b && r._1 != id)
          .map(r => (cos(v, r._2), r._1))
          .sortBy { case (c, rid) => (-c, rid) }.take(2).map(_._2)
        expect.zipWithIndex.forall { case (rid, k) => got((id, k + 1L)) == rid }
      }
    }

  property("contamination: n_shared equals the brute-force shingle intersection") =
    forAll(
      Gen.listOfN(6, Gen.listOfN(6, Gen.choose('a', 'e').map(_.toString)))) { wordss =>
      val docs = wordss.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" "), if (i % 2 == 0) "eval" else "train") }
      val got = graft.text.Curation.contamination(
        docs.toDF("doc_id", "text", "split"), "doc_id", "text",
        org.apache.spark.sql.functions.col("split") === "eval", 3)
        .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._2).toMap
      def shingles(ws: Seq[String]): Set[String] =
        if (ws.size < 3) Set(ws.mkString(" "))
        else ws.sliding(3).map(_.mkString(" ")).toSet
      val evalSh = docs.filter(_._3 == "eval")
        .flatMap(d => shingles(d._2.split(" ").toSeq)).toSet
      docs.filter(_._3 == "train").forall { d =>
        got(d._1) == (shingles(d._2.split(" ").toSeq) & evalSh).size.toLong
      }
    }

  property("connectedComponents: equals driver-side union-find on any graph") =
    forAll(Gen.listOfN(25, Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))) { es =>
      val edges = es.filter { case (a, b) => a != b }
      edges.isEmpty || {
        // reference: textbook union-find with path compression
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
          .map(n => n -> find(n)).toMap
        // min-id canonical labels: re-root each class at its minimum
        val minOf = expect.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
        val canon = expect.map { case (n, r) => n -> minOf(r) }
        // both the local union-find fast path and the distributed
        // star rounds must reproduce the reference labels
        val local = graft.text.Clusters.connectedComponents(
          edges.toDF("src", "dst"), "src", "dst")
          .as[(Long, Long)].collect().toMap
        val dist = graft.text.Clusters.connectedComponents(
          edges.toDF("src", "dst"), "src", "dst", maxLocalEdges = 0)
          .as[(Long, Long)].collect().toMap
        local == canon && dist == canon
      }
    }

  private val cdcTable = Gen.mapOf(Gen.zip(
    Gen.choose(0, 9),
    Gen.zip(Gen.oneOf("x", "y", "z"), Gen.choose(0, 3).map(_.toDouble))))

  property("changeCapture/applyChanges: the feed replays any before into any after") =
    forAll(cdcTable, cdcTable) { (before, after) =>
      // maps guarantee key-uniqueness per state — the CDC precondition
      val b = before.toSeq.map { case (k, (s, d)) => (k, s, d) }
        .toDF("k", "name", "bal")
      val a = after.toSeq.map { case (k, (s, d)) => (k, s, d) }
        .toDF("k", "name", "bal")
      val feed = graft.engine.Upsert.changeCapture(b, a, Seq("k"))
      val replayed = graft.engine.Upsert.applyChanges(b, feed, Seq("k"))
        .as[(Int, String, Double)].collect().toSet
      val feedTypes = feed.select("k", "change_type")
        .as[(Int, String)].collect().toMap
      replayed == after.map { case (k, (s, d)) => (k, s, d) }.toSet &&
        // unchanged keys never appear in the feed
        feedTypes.keySet.forall(k => before.get(k) != after.get(k))
    }

  // long measures so the incremental law is exact, not approximate
  private val aggTable = Gen.mapOf(Gen.zip(
    Gen.choose(0, 9),
    Gen.zip(Gen.oneOf("x", "y", "z"), Gen.choose(-5L, 5L))))

  property("incremental agg: base + CDF delta equals a fresh aggregate of after") =
    forAll(aggTable, aggTable) { (before, after) =>
      import org.apache.spark.sql.functions.col
      val b = before.toSeq.map { case (k, (g, v)) => (k, g, v) }
        .toDF("k", "grp", "v")
      val a = after.toSeq.map { case (k, (g, v)) => (k, g, v) }
        .toDF("k", "grp", "v")
      val feed = graft.engine.Upsert.changeCaptureCdf(b, a, Seq("k"))
      val base = graft.engine.Incremental.groupAgg(b, Seq("grp"),
        Seq("total" -> col("v")))
      val delta = graft.engine.Incremental.aggDelta(feed, Seq("grp"),
        Seq("total" -> col("v")))
      val maintained = graft.engine.Incremental
        .applyDelta(base, delta, Seq("grp"), Seq("total"))
        .as[(String, Long, Long)].collect().toSet
      val direct = graft.engine.Incremental.groupAgg(a, Seq("grp"),
          Seq("total" -> col("v")))
        .as[(String, Long, Long)].collect().toSet
      // exercises inserts, deletes, AND value updates (pre-image retract)
      maintained == direct
    }

  private val corrRows = Gen.nonEmptyListOf(Gen.zip(
    Gen.oneOf("p", "q", "r"), Gen.choose(0, 3), Gen.choose(0, 4)))

  property("corrMatrix: equals driver-side Pearson over co-observed buckets") =
    forAll(corrRows) { rows =>
      import org.apache.spark.sql.functions.col
      val got = graft.ops.Stats.corrMatrix(
          rows.map { case (k, b, v) => (k, b, v.toDouble) }
            .toDF("sym", "bkt", "price"),
          "sym", col("bkt"), col("price"))
        .as[(String, String, Long, Option[Double])].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      // reference: 9-dp bucket means (the operator's grid), EXACT
      // BigDecimal power sums, then Pearson. The degenerate-variance
      // guard must be decided on exact arithmetic like the operator's
      // decimal sums — double sums of equal means leave ±1e-17 noise
      // whose SIGN is luck, and a rare seed once flipped the
      // defined/undefined verdict here while the operator was right
      val means = rows.groupBy(r => (r._1, r._2)).map { case (kb, g) =>
        kb -> BigDecimal(g.map(_._3.toDouble).sum / g.size)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      val keys = rows.map(_._1).distinct.sorted
      val expect = (for {
        a <- keys; b <- keys if a < b
        common = (0 to 3).filter(t =>
          means.contains((a, t)) && means.contains((b, t)))
        if common.nonEmpty
      } yield {
        val (xs, ys) = (common.map(t => means((a, t))), common.map(t => means((b, t))))
        val n = common.size
        val (sa, sb) = (xs.sum, ys.sum)
        val sab = xs.zip(ys).map { case (x, y) => x * y }.sum
        val (saa, sbb) = (xs.map(x => x * x).sum, ys.map(y => y * y).sum)
        val (da, db) = (n * saa - sa * sa, n * sbb - sb * sb) // exact
        val c = if (da > 0 && db > 0)
          Some((n * sab - sa * sb).toDouble /
            math.sqrt(da.toDouble * db.toDouble)) else None
        (a, b) -> ((n.toLong, c))
      }).toMap
      got.keySet == expect.keySet && expect.forall { case (k, (n, c)) =>
        got(k)._1 == n && ((c, got(k)._2) match {
          case (None, None) => true
          case (Some(x), Some(y)) => math.abs(x - y) <= 1e-6
          case _ => false
        })
      }
    }

  private val sketchRows = Gen.nonEmptyListOf(Gen.zip(
    Gen.oneOf("g1", "g2"), Gen.choose(0L, 30L)))

  property("sketch rollup: sequential batch merges equal the one-shot sketch") =
    forAll(sketchRows, Gen.choose(1, 3)) { (rows, nBatches) =>
      import org.apache.spark.sql.functions.col
      import graft.engine.Incremental
      val batches = rows.grouped(math.max(1, rows.size / nBatches)).toSeq
      val merged = batches.tail.foldLeft(
        Incremental.sketchAgg(batches.head.toDF("grp", "user"),
          Seq("grp"), col("user"))) { (acc, b) =>
        Incremental.applySketchDelta(acc,
          Incremental.sketchAgg(b.toDF("grp", "user"), Seq("grp"), col("user")),
          Seq("grp"))
      }
      val got = Incremental.sketchEstimates(merged, Seq("grp"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      // reference: exact row and distinct counts (tiny cardinalities are
      // exact in HLL, so the estimate must equal the truth here)
      val expect = rows.groupBy(_._1).map { case (g, rs) =>
        g -> ((rs.size.toLong, rs.map(_._2).distinct.size.toLong))
      }
      got == expect
    }

  property("skewReport: matches driver-side top-k counts, share, and imbalance") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 6)), Gen.choose(1, 4)) { (keys, k) =>
      import org.apache.spark.sql.functions.col
      val got = graft.ops.Joins.skewReport(
          keys.map(i => (s"k$i", i)).toDF("key", "payload"), Seq("key"), k)
        .select("key", "cnt", "rank", "share", "imbalance")
        .as[(String, Long, Int, Double, Double)].collect().toSeq
      val counts = keys.groupBy(i => s"k$i").view.mapValues(_.size.toLong).toMap
      val total = keys.size.toDouble
      val nkeys = counts.size.toLong
      val expect = counts.toSeq.sortBy { case (key, c) => (-c, key) }.take(k)
        .zipWithIndex.map { case ((key, c), i) =>
          (key, c, i + 1, c / total, c.toDouble * nkeys / total)
        }
      got == expect
    }

  private val vecRow = for {
    id <- Gen.choose(0L, 60L)
    x <- Gen.choose(-3, 3)
    y <- Gen.choose(-3, 3)
    z <- Gen.choose(-3, 3)
  } yield (id, Seq(x.toFloat, y.toFloat, z.toFloat))

  property("semanticDedup: verdict partition, min-id survivors, witnessed drops") =
    forAll(Gen.nonEmptyListOf(vecRow), Gen.choose(1, 4)) { (rawRows, k) =>
      import org.apache.spark.sql.functions.col
      val rows = rawRows.distinctBy(_._1) // ids are unique by contract
      val got = graft.vector.Similarity.semanticDedup(
          rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
          nCentroids = k, threshold = 0.95)
        .select("vec_id", "cluster", "keep")
        .as[(Long, Option[Long], Boolean)].collect()
      val byId = got.map(r => r._1 -> r).toMap
      def dot(a: Seq[Float], b: Seq[Float]) =
        a.zip(b).map { case (p, q) => p.toDouble * q }.sum
      val vecs = rows.toMap
      def zero(id: Long) = dot(vecs(id), vecs(id)) == 0.0
      // every doc verdicts once; zero vectors keep with null cluster;
      // the min id of every cluster survives (it can have no smaller-id
      // witness); every drop has an in-cluster smaller-id near-dup
      got.length == rows.size &&
        rows.forall { case (id, _) => !zero(id) || byId(id) == ((id, None, true)) } &&
        got.groupBy(_._2).forall { case (cl, g) => cl.isEmpty || g.exists(_._3) } &&
        got.filter(r => r._2.isDefined && !r._3).forall { case (id, cl, _) =>
          got.exists { case (o, ocl, _) =>
            ocl == cl && o < id && {
              val c = dot(vecs(o), vecs(id)) /
                (math.sqrt(dot(vecs(o), vecs(o))) * math.sqrt(dot(vecs(id), vecs(id))))
              BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.95
            }
          }
        }
    }

  private val tokenCorpus = Gen.nonEmptyListOf(
    Gen.oneOf((0 until 40).map(i => s"w$i")))

  property("heavyHitters: exactly the >=minCount tokens, for any corpus and threshold") =
    forAll(tokenCorpus, Gen.choose(1L, 8L)) { (toks, minCount) =>
      import org.apache.spark.sql.functions.{array, col}
      // wide eps → heavy sketch collisions; exactness must not depend on it
      val got = graft.text.TextStats.heavyHitters(
          toks.map(Tuple1(_)).toDF("tok"), array(col("tok")), minCount,
          eps = 0.5)
        .as[(String, Long)].collect().toMap
      val expect = toks.groupBy(identity).view
        .mapValues(_.size.toLong).filter(_._2 >= minCount).toMap
      got == expect
    }

  // the ShinglesExpr convention: docs shorter than n contribute their
  // single whole-document shingle
  private def shingleSet(toks: Seq[String], n: Int): Set[String] =
    if (toks.size < n) Set(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSet

  property("containmentPairs: prefix filtering loses NOTHING vs brute force") =
    forAll(Gen.listOfN(6,
      Gen.choose(1, 6).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))))) { docs =>
      val df = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.text.Dedup.containmentPairs(df, "doc_id", "text",
          n = 2, threshold = 0.6)
        .as[(Long, Long, Long, Long, Double, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._5, r._6))).toMap
      val sets = docs.map(t => shingleSet(t, 2))
      val expect = (for {
        i <- sets.indices; j <- sets.indices if i < j
        shared = (sets(i) intersect sets(j)).size
        if shared > 0
        c = shared.toDouble / math.min(sets(i).size, sets(j).size)
        if c >= 0.6
      } yield (i.toLong, j.toLong) ->
        ((c, shared.toDouble / (sets(i).size + sets(j).size - shared)))).toMap
      got == expect
    }

  property("incrementalJaccardPairs: equals all-pairs jaccard filtered to new-side") =
    forAll(
      Gen.listOfN(7, Gen.choose(1, 6).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d")))),
      Gen.someOf(0L, 1L, 2L, 3L, 4L, 5L, 6L)) { (texts, newSet) =>
      // ANY corpus, ANY batch subset (empty included): the asymmetric
      // prefix(new) ⋈ prefix(all) candidate join must emit exactly the
      // symmetric scheme's pairs that touch a new doc
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t.mkString(" ")) }.toDF("doc_id", "text")
      val newIds = newSet.toSeq.toDF("doc_id")
      val inc = graft.text.Dedup.incrementalJaccardPairs(df, newIds,
          "doc_id", "text", 2, 0.5)
        .as[(Long, Long, Double)].collect().toSet
      spark.catalog.clearCache()
      val full = graft.text.Dedup.jaccardPairs(df, "doc_id", "text", 2, 0.5)
        .as[(Long, Long, Double)].collect()
        .filter(p => newSet.contains(p._1) || newSet.contains(p._2)).toSet
      spark.catalog.clearCache()
      inc == full
    }

  property("appendDedup: equals union dupClusters verdicts on a deduped corpus") =
    forAll(
      Gen.listOfN(5, Gen.choose(1, 6).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d")))),
      Gen.listOfN(4, Gen.choose(1, 6).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))))) { (ct, bt) =>
      import org.apache.spark.sql.functions.col
      // enforce the operator's precondition: the corpus is already
      // deduped at the same (n, threshold) — keep dupClusters canonicals
      val corpus0 = ct.zipWithIndex
        .map { case (t, i) => (i.toLong, t.mkString(" ")) }.toDF("doc_id", "text")
      val keepIds = graft.text.Clusters.dupClusters(corpus0, "doc_id", "text", 2, 0.5)
        .filter(col("is_canonical")).select("doc_id").as[Long].collect().toSet
      spark.catalog.clearCache()
      val corpus = corpus0.filter(col("doc_id").isin(keepIds.toSeq: _*))
      val batch = bt.zipWithIndex
        .map { case (t, i) => (100L + i, t.mkString(" ")) }.toDF("doc_id", "text")
      val got = graft.text.Clusters.appendDedup(corpus, batch, "doc_id", "text",
          shingleN = 2, threshold = 0.5)
        .as[(Long, Option[Long], Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      spark.catalog.clearCache()
      // ground truth: full dupClusters over the union — batch verdicts
      // must agree although appendDedup never computed corpus×corpus
      val cl = graft.text.Clusters.dupClusters(corpus.union(batch),
          "doc_id", "text", 2, 0.5)
        .select("doc_id", "cluster_id").as[(Long, Long)].collect()
      spark.catalog.clearCache()
      val members = cl.groupBy(_._2).map { case (c, g) => c -> g.map(_._1) }
      val clusterOf = cl.toMap
      val expect = batch.select("doc_id").as[Long].collect().map { b =>
        val m = members(clusterOf(b))
        val corpMin = m.filter(_ < 100L).sorted.headOption
        b -> ((corpMin, corpMin.isEmpty && b == m.filter(_ >= 100L).min))
      }.toMap
      got == expect
    }

  property("flowImbalance: equals the driver-side sign-carry scan") =
    forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(1, 4), Gen.choose(0L, 5L)))) { ticks =>
      import org.apache.spark.sql.functions.{col, lit}
      val df = ticks.zipWithIndex.map { case ((v, q), i) =>
        ("k", i.toLong, v.toDouble, q) }.toDF("k", "seq", "v", "q")
      val got = graft.ops.Risk.flowImbalance(df, "k", Seq(col("seq")),
          col("v"), col("q"), lit(1))
        .as[(String, Int, Long, Double, Double, Option[Double])]
        .collect().headOption.map(r => (r._3, r._4, r._5, r._6))
      var lastSign = 0; var prev = Option.empty[Int]
      var signed = 0L; var total = 0L; var n = 0L
      for ((v, q) <- ticks) {
        val s = prev match {
          case Some(p) if v > p => 1
          case Some(p) if v < p => -1
          case _ => lastSign
        }
        if (s != 0) { signed += s * q; total += q; n += 1; lastSign = s }
        prev = Some(v)
      }
      val expect = if (n == 0) None else Some((n, signed.toDouble,
        total.toDouble,
        if (total > 0) Some(BigDecimal(signed.toDouble / total)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else None))
      got == expect
    }

  property("rollSpread: autocovariance equals the driver-side pair scan") =
    forAll(Gen.choose(3, 15).flatMap(len =>
      Gen.listOfN(len, Gen.choose(1, 6)))) { prices =>
      import org.apache.spark.sql.functions.col
      val df = prices.zipWithIndex.map { case (v, i) =>
        ("k", i.toLong, v.toDouble) }.toDF("k", "seq", "v")
      val out = graft.ops.Risk.rollSpread(df, "k", Seq(col("seq")),
        col("v")).as[(String, Long, Double, Option[Double])].collect().head
      val dps = prices.sliding(2).map { case Seq(a, b) => (b - a).toLong }.toSeq
      val pairs = dps.sliding(2).map { case Seq(d0, d1) => (d1, d0) }.toSeq
      val n = pairs.size
      val (sa, sb) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val sab = pairs.map { case (a, b) => a * b }.sum
      val cov = (sab.toDouble - sa.toDouble * sb.toDouble / n) / n
      val wantCov = BigDecimal(cov).setScale(9,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      val wantSpread = if (cov < 0) Some(BigDecimal(2.0 * math.sqrt(-cov))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) else None
      out._2 == n.toLong && out._3 == wantCov && out._4 == wantSpread
    }

  property("kyleLambda: equals driver-side OLS over sign-carried flow") =
    forAll(Gen.choose(3, 15).flatMap(len =>
      Gen.listOfN(len, Gen.zip(Gen.choose(1, 5), Gen.choose(0L, 9L))))) { ticks =>
      import org.apache.spark.sql.functions.col
      val df = ticks.zipWithIndex.map { case ((v, q), i) =>
        ("k", i.toLong, v.toDouble, q) }.toDF("k", "seq", "v", "q")
      val out = graft.ops.Risk.kyleLambda(df, "k", Seq(col("seq")),
        col("v"), col("q")).as[(String, Long, Option[Double])]
        .collect().headOption
      // driver mirror: dp + carried sign per tick, then the OLS slope
      var lastSign = 0; var prev = Option.empty[Int]
      val pts = ticks.flatMap { case (v, q) =>
        val dp = prev.map(p => (v - p).toLong)
        val s = prev match {
          case Some(p) if v > p => 1
          case Some(p) if v < p => -1
          case _ => lastSign
        }
        if (s != 0) lastSign = s
        prev = Some(v)
        dp.filter(_ => s != 0).map(d => (if (s > 0) q else -q, d))
      }
      if (pts.isEmpty) out.isEmpty || out.get._2 == 0L
      else {
        val n = pts.size
        val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
        val sxy = pts.map { case (x, y) => x * y }.sum
        val sxx = pts.map { case (x, _) => x * x }.sum
        val den = n * sxx.toDouble - sx.toDouble * sx.toDouble
        val want = if (n >= 2 && den > 0)
          Some(BigDecimal((n * sxy.toDouble - sx.toDouble * sy.toDouble) / den)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else None
        out.exists(o => o._2 == n.toLong && o._3 == want)
      }
    }

  property("momentumRank: ranks and deciles equal the driver-side sort") =
    forAll(Gen.choose(2, 6).flatMap(k => Gen.listOfN(k,
      Gen.zip(Gen.choose(1, 9), Gen.choose(1, 9))))) { walks =>
      import org.apache.spark.sql.functions.{col, lit}
      // one bucket, each key contributes an (open, close) pair
      val rows = walks.zipWithIndex.flatMap { case ((o, c), ki) =>
        Seq((s"k$ki", 1L, o.toDouble), (s"k$ki", 2L, c.toDouble)) }
      val out = graft.ops.Risk.momentumRank(rows.toDF("k", "seq", "v"),
          "k", Seq(col("seq")), col("v"), lit(1))
        .as[(Int, String, Double, Int, Long, Int)].collect()
        .map(r => r._2 -> ((r._4, r._6))).toMap
      val rets = walks.zipWithIndex.map { case ((o, c), ki) =>
        s"k$ki" -> BigDecimal((c - o).toDouble / o).setScale(9,
          BigDecimal.RoundingMode.HALF_UP) }
      val n = rets.size
      val want = rets.sortBy { case (k, r) => (-r, k) }.zipWithIndex.map {
        case ((k, _), i) =>
          k -> ((i + 1, ((i * 10) / n + 1)))
      }.toMap
      out == want
    }

  property("tokenEntropy: equals the driver-side frequency-table mirror") =
    forAll(Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e"))) { toks =>
      val df = Seq(("s", toks.mkString(" "))).toDF("source", "text")
      val out = graft.text.TextStats.tokenEntropy(df, "source", "text")
        .as[(String, Long, Long, Double, Option[Double])].collect().head
      val freqs = toks.groupBy(identity).view.mapValues(_.size).toMap
      val nTot = toks.size
      def fix12(v: Double) = BigDecimal(v).setScale(12,
        BigDecimal.RoundingMode.HALF_UP)
      val sfl = freqs.values.map(f => BigDecimal(f) * fix12(math.log(f))).sum
      val h = math.log(nTot) - sfl.toDouble / nTot
      val wantH = BigDecimal(h).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      val wantEff = if (freqs.size > 1)
        Some(BigDecimal(h / math.log(freqs.size)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) else None
      out._2 == freqs.size.toLong && out._3 == nTot.toLong &&
        out._4 == wantH && out._5 == wantEff
    }

  property("varianceRatio: equals the driver-side overlapping-window mirror") =
    forAll(Gen.choose(4, 15).flatMap(len =>
      Gen.listOfN(len, Gen.choose(1, 9)))) { prices =>
      import org.apache.spark.sql.functions.col
      val q = 2
      val df = prices.zipWithIndex.map { case (v, i) =>
        ("k", i.toLong, v.toDouble) }.toDF("k", "seq", "v")
      val out = graft.ops.Risk.varianceRatio(df, "k", Seq(col("seq")),
        col("v"), q).as[(String, Long, Long, Option[Double])].collect().head
      def r9(x: Double) = BigDecimal(x).setScale(9,
        BigDecimal.RoundingMode.HALF_UP)
      val rets = prices.sliding(2).map { case Seq(p, v) =>
        r9((v - p).toDouble / p) }.toSeq
      val rqs = rets.sliding(q).filter(_.size == q).map(_.sum).toSeq
      val n = rets.size; val m = rqs.size
      val s1 = rets.sum.toDouble; val s2 = rets.map(r => r * r).sum.toDouble
      val t1 = rqs.sum.toDouble; val t2 = rqs.map(r => r * r).sum.toDouble
      val var1 = s2 / n - (s1 / n) * (s1 / n)
      val varQ = if (m > 0) t2 / m - (t1 / m) * (t1 / m) else 0.0
      val want = if (m >= 2 && var1 > 0)
        Some(BigDecimal(varQ / (q * var1)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) else None
      out._2 == n.toLong && out._3 == m.toLong && out._4 == want
    }

  property("eventStudy: equals the driver-side forward-return scan") =
    forAll(Gen.choose(3, 15).flatMap(len =>
      Gen.listOfN(len, Gen.choose(1, 9)))) { prices =>
      import org.apache.spark.sql.functions.col
      val h = 2
      val df = prices.zipWithIndex.map { case (v, i) =>
        ("k", i.toLong, v.toDouble) }.toDF("k", "seq", "v")
      val out = graft.ops.Risk.eventStudy(df, "k", Seq(col("seq")),
          col("v"), Seq(h), r => r > 0.1)
        .as[(String, Int, Long, Double, Double)].collect()
        .map(r => (r._3, r._4, r._5)).headOption
      def r9(x: Double) = BigDecimal(x).setScale(9,
        BigDecimal.RoundingMode.HALF_UP)
      val fwd = prices.indices.flatMap { i =>
        val sig = i > 0 &&
          r9((prices(i) - prices(i - 1)).toDouble / prices(i - 1))
            .toDouble > 0.1
        if (sig && i + h < prices.size)
          Some(r9((prices(i + h) - prices(i)).toDouble / prices(i)))
        else None
      }
      if (fwd.isEmpty) out.isEmpty
      else {
        val n = fwd.size
        val mean = BigDecimal(fwd.sum.toDouble / n).setScale(9,
          BigDecimal.RoundingMode.HALF_UP).toDouble
        val hit = BigDecimal(
          fwd.count(_ > 0).toDouble / n).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble
        out.contains((n.toLong, mean, hit))
      }
    }

  property("pairSpread: hedge, sigma, and latest z equal the driver-side OLS") =
    forAll(Gen.choose(3, 8).flatMap(n => Gen.zip(
      Gen.listOfN(n, Gen.choose(1, 9)), Gen.listOfN(n, Gen.choose(1, 9))))) {
      case (as, bs) =>
        import org.apache.spark.sql.functions.col
        val rows = as.zipWithIndex.map { case (v, i) =>
          ("a", i, v.toDouble) } ++ bs.zipWithIndex.map { case (v, i) =>
          ("b", i, v.toDouble) }
        val out = graft.ops.Risk.pairSpread(rows.toDF("k", "bucket", "v"),
            "k", col("bucket"), col("v"))
          .as[(String, String, Long, Int, Option[Double], Option[Double],
            Option[Double], Option[Int])].collect().head
        val n = as.size
        val sa = as.sum.toDouble; val sb = bs.sum.toDouble
        val sab = as.zip(bs).map { case (a, b) => a * b }.sum.toDouble
        val saa = as.map(a => a * a).sum.toDouble
        val sbb = bs.map(b => b * b).sum.toDouble
        val sbbC = sbb - sb * sb / n
        val sabC = sab - sa * sb / n
        val saaC = saa - sa * sa / n
        def r(x: Double, s: Int) = BigDecimal(x).setScale(s,
          BigDecimal.RoundingMode.HALF_UP).toDouble
        if (!(n >= 3 && sbbC > 0))
          out._5.isEmpty && out._7.isEmpty
        else {
          val beta = sabC / sbbC
          val alpha = (sa - beta * sb) / n
          val rss = saaC - beta * sabC
          val okBeta = out._5.contains(r(beta, 6)) &&
            out._6.contains(r(alpha, 6))
          if (rss > 0) {
            val z = (as.last - alpha - beta * bs.last) /
              math.sqrt(rss / (n - 2))
            okBeta && out._7.contains(r(z, 6)) &&
              out._8.contains(if (math.abs(z) >= 2.0) 1 else 0)
          } else okBeta && out._7.isEmpty
        }
    }

  property("atrChannels: TR, ATR, and Donchian equal the driver-side scan") =
    forAll(Gen.choose(3, 10).flatMap(len => Gen.listOfN(len, Gen.zip(
      Gen.choose(5, 9), Gen.choose(1, 4))))) { spans =>
      import org.apache.spark.sql.functions.col
      val nBars = 2
      // bars: high = mid + spread, low = mid − spread, close = mid
      val bars = spans.zipWithIndex.map { case ((mid, sp), i) =>
        ("k", f"2024-01-${i + 1}%02d", (mid + sp).toDouble,
          (mid - sp).toDouble, mid.toDouble) }
      val out = graft.ops.Risk.atrChannels(
          bars.toDF("k", "bar", "high", "low", "close"), "k", col("bar"),
          nBars)
        .as[(String, String, Double, Double, Double, Option[Double],
          Option[Double], Option[Double], Option[Int], Option[Int])]
        .collect().sortBy(_._2)
      val hs = spans.map { case (m, s) => (m + s).toLong }
      val ls = spans.map { case (m, s) => (m - s).toLong }
      val cs = spans.map(_._1.toLong)
      val trs = spans.indices.map { i =>
        if (i == 0) hs(0) - ls(0)
        else math.max(hs(i) - ls(i),
          math.max(math.abs(hs(i) - cs(i - 1)), math.abs(ls(i) - cs(i - 1))))
      }
      spans.indices.forall { i =>
        val r = out(i)
        val atrOk = if (i >= nBars - 1)
          r._6.contains(BigDecimal(
            trs.slice(i - nBars + 1, i + 1).sum.toDouble / nBars)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else r._6.isEmpty
        val prior = (math.max(0, i - nBars) until i)
        val donOk = if (prior.isEmpty) r._7.isEmpty && r._9.isEmpty
        else {
          val dh = prior.map(hs).max.toDouble
          val dl = prior.map(ls).min.toDouble
          r._7.contains(dh) && r._8.contains(dl) &&
            r._9.contains(if (cs(i) > dh) 1 else 0) &&
            r._10.contains(if (cs(i) < dl) 1 else 0)
        }
        atrOk && donOk
      }
    }

  property("intradayProfile: per-hour stats equal the driver-side scan") =
    forAll(Gen.choose(2, 12).flatMap(len => Gen.listOfN(len, Gen.zip(
      Gen.choose(0, 2), Gen.choose(1, 9), Gen.choose(0L, 5L))))) { raw =>
      import org.apache.spark.sql.functions.col
      // (hour, price, qty) ticks ordered by sequence within one key
      val df = raw.zipWithIndex.map { case ((h, v, q), i) =>
        ("k", java.sql.Timestamp.valueOf(f"2024-01-01 0$h%d:00:${i % 60}%02d"),
          i.toLong, v.toDouble, q) }.toDF("k", "t", "id", "v", "q")
      val out = graft.ops.Risk.intradayProfile(df, "k",
          Seq(col("id")), col("t"), col("v"), col("q"))
        .as[(String, Int, Long, Option[Double], Option[Double])].collect()
        .map(r => r._2 -> ((r._3, r._4, r._5))).toMap
      def r9(x: Double) = BigDecimal(x).setScale(9,
        BigDecimal.RoundingMode.HALF_UP)
      val rets = raw.indices.map { i =>
        if (i == 0) None
        else Some(r9((raw(i)._2 - raw(i - 1)._2).toDouble / raw(i - 1)._2))
      }
      val totalQ = raw.map(_._3).sum
      val byHour = raw.indices.groupBy(i => raw(i)._1)
      byHour.forall { case (h, idxs) =>
        val absSum = idxs.flatMap(rets(_)).map(_.abs)
        val qSum = idxs.map(raw(_)._3).sum
        val (n, mar, share) = out(h)
        n == idxs.size.toLong &&
          mar == (if (absSum.nonEmpty)
            Some(BigDecimal(absSum.sum.toDouble / absSum.size).setScale(9,
              BigDecimal.RoundingMode.HALF_UP).toDouble) else None) &&
          share == (if (totalQ > 0)
            Some(BigDecimal(qSum.toDouble / totalQ).setScale(6,
              BigDecimal.RoundingMode.HALF_UP).toDouble) else None)
      }
    }

  property("volCone: equals the driver-side rolling-window envelope") =
    forAll(Gen.choose(3, 9).flatMap(len =>
      Gen.listOfN(len, Gen.choose(1, 40)))) { rvsRaw =>
      import org.apache.spark.sql.functions.col
      val h = 2
      val rvs = rvsRaw.map(_ / 100.0) // exact 2-dp doubles
      val df = rvs.zipWithIndex.map { case (rv, i) =>
        ("k", f"2024-01-${i + 1}%02d", rv) }.toDF("k", "bucket", "rv")
      val out = graft.ops.Risk.volCone(df, "k", "bucket", "rv", Seq(h))
        .as[(String, Int, Long, Double, Double, Double)].collect().head
      def r(x: Double, s: Int) = BigDecimal(x).setScale(s,
        BigDecimal.RoundingMode.HALF_UP)
      val vols = rvs.map(v => r(v, 12)).sliding(h).filter(_.size == h)
        .map(w => r(math.sqrt(w.sum.toDouble / h), 9)).toSeq
      val mean = BigDecimal(vols.sum.toDouble / vols.size).setScale(9,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      out._3 == vols.size.toLong && out._4 == vols.min.toDouble &&
        out._5 == mean && out._6 == vols.max.toDouble
    }

  property("varCvar: VaR is the k-th smallest return, ES its exact tail mean") =
    forAll(Gen.choose(2, 12).flatMap(len =>
      Gen.listOfN(len, Gen.choose(1, 50)))) { prices =>
      import org.apache.spark.sql.functions.col
      val df = prices.zipWithIndex.map { case (v, i) =>
        ("k", i.toLong, v.toDouble) }.toDF("k", "seq", "v")
      val out = graft.ops.Risk.varCvar(df, "k", Seq(col("seq")),
          col("v"), alpha = 0.5)
        .as[(String, Long, Double, Double)].collect().head
      // mirror tickReturn on exact integer prices
      val rets = prices.sliding(2).map { case Seq(p, v) =>
        BigDecimal((v - p).toDouble / p).setScale(9,
          BigDecimal.RoundingMode.HALF_UP)
      }.toSeq.sorted
      val k = (rets.size + 1) / 2              // ceil(0.5·n), exact
      val tail = rets.take(k)
      out._2 == rets.size.toLong &&
        out._3 == tail.last.toDouble &&
        out._4 == BigDecimal(tail.sum.toDouble / k).setScale(9,
          BigDecimal.RoundingMode.HALF_UP).toDouble
    }

  property("leadLagCorr: equals driver-side brute force over every (pair, lag) cell") =
    forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.oneOf("a", "b", "c"), Gen.choose(0L, 7L), Gen.choose(1, 50)))) { raw =>
      import org.apache.spark.sql.functions.col
      val maxLag = 2
      // one observation per (key, bucket): the bucket-mean stage is then
      // the identity and the mirror stays integer-exact
      val rows = raw.groupBy(r => (r._1, r._2)).map(_._2.head).toList
      val got = graft.ops.Risk.leadLagCorr(
          rows.map { case (k, t, v) => (k, t, v.toDouble) }.toDF("k", "t", "v"),
          "k", col("t"), col("v"), maxLag = maxLag)
        .as[(String, String, Int, Long, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
      // mirror: per-key observation-ordered returns, lagged leader join
      // on bucket, textbook Pearson, 6-dp round, same argmax tiebreak
      val series = rows.groupBy(_._1).map { case (k, g) =>
        val obs = g.sortBy(_._2).map(r => (r._2, r._3.toDouble))
        k -> obs.zip(obs.drop(1)).map { case ((_, p), (t, v)) => (t, v - p) }
      }
      def r6(d: Double) = BigDecimal(d).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      val cells = for {
        (ka, ra) <- series.toSeq; (kb, rb) <- series.toSeq
        if ka != kb
        l <- 0 to maxLag
        if l > 0 || ka < kb
        joined = ra.flatMap { case (t, x) =>
          rb.zipWithIndex.collectFirst {
            case ((tb, _), j) if tb == t && j >= l => (x, rb(j - l)._2)
          }
        }
        n = joined.size if n >= 3
        sa = joined.map(_._1).sum; sb = joined.map(_._2).sum
        sab = joined.map(p => p._1 * p._2).sum
        saa = joined.map(p => p._1 * p._1).sum
        sbb = joined.map(p => p._2 * p._2).sum
        da = n * saa - sa * sa; db = n * sbb - sb * sb
        if da > 0 && db > 0
      } yield {
        val c = r6((n * sab - sa * sb) / math.sqrt(da * db))
        val (pa, pb) = if (ka < kb) (ka, kb) else (kb, ka)
        (pa, pb, if (ka < kb) l else -l, n.toLong, c)
      }
      val expect = cells.groupBy(c => (c._1, c._2)).map { case (k, cs) =>
        val best = cs.minBy(c => (-math.abs(c._5), math.abs(c._3), c._3))
        k -> ((best._3, best._4, best._5))
      }
      got.keySet == expect.keySet && expect.forall { case (k, (l, n, c)) =>
        got(k)._1 == l && got(k)._2 == n && math.abs(got(k)._3 - c) <= 1e-9
      }
    }

  property("vocabCoverage: equals brute-force top-V vocabulary and OOV counts") =
    forAll(
      Gen.nonEmptyListOf(Gen.nonEmptyListOf(
        Gen.oneOf("a", "b", "c", "d", "e"))),
      Gen.choose(1, 4)) { (docsToks, v) =>
      val docs = docsToks.zipWithIndex.map { case (ts, i) =>
        (i.toLong, ts.mkString(" ")) }
      val got = graft.text.TextStats.vocabCoverage(
          docs.toDF("doc_id", "text"), "doc_id", "text", v)
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val all = docsToks.flatten
      val vocab = all.groupBy(identity).view.mapValues(_.size).toSeq
        .sortBy { case (t, f) => (-f, t) }.take(v).map(_._1).toSet
      docs.size == got.size && docsToks.zipWithIndex.forall { case (ts, i) =>
        got(i.toLong) == ((ts.size.toLong, ts.count(!vocab(_)).toLong))
      }
    }

  property("image pixel roundtrip: encodePngFill→decodePixels sums follow the fill formula") =
    forAll(Gen.choose(1, 8), Gen.choose(1, 6), Gen.choose(0, 255),
      Gen.choose(0, 255), Gen.choose(0, 255)) { (w, h, r, g, b) =>
      import graft.multimodal.Media.ImageCodec
      def s(c: Int) = c.toLong * w * h + 255 - 2 * c
      ImageCodec.decodePixels(ImageCodec.encodePngFill(w, h, r, g, b)) ==
        Some((w, h, s(r), s(g), s(b)))
    }

  private val streamLawCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  property("vwapStream: latest emission equals batch vwap on ANY feed (nulls, fractions, any split)") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b"),
        Gen.option(Gen.choose(1, 99999)),    // price in cents, or null
        Gen.option(Gen.choose(1, 9999)))),   // qty in hundredths, or null
      Gen.choose(0, 5)) { (rowsRaw, splitRaw) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.functions.col
      val rows = rowsRaw.zipWithIndex.map { case ((k, pc, qc), i) =>
        (k, i.toLong, pc.map(_ / 100.0), qc.map(_ / 100.0)) }
      val split = math.min(splitRaw, rows.size)
      val mem = MemoryStream[(String, Long, Option[Double], Option[Double])]
      val name = s"vwap_law_${streamLawCounter.incrementAndGet()}"
      val q = EventStream.vwapStream(spark,
          mem.toDF().toDF("sym", "seq", "price", "qty"),
          "sym", "seq", "price", "qty")
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        if (split > 0) { mem.addData(rows.take(split): _*); q.processAllAvailable() }
        if (rows.size > split) mem.addData(rows.drop(split): _*)
        q.processAllAvailable()
        val latest = spark.table(name)
          .as[(String, Long, Long, Double, Option[Double])].collect()
          .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
        val batch = graft.ops.Stats.vwap(
            rows.toDF("sym", "seq", "price", "qty"), Seq("sym"),
            col("price"), col("qty"))
          .as[(String, Long, Double, Option[Double])].collect()
          .map(r => r._1 -> r).toMap
        // keys whose rows are ALL invalid vanish from BOTH sides
        latest.keySet == batch.keySet && latest.forall {
          case (k, (_, _, n, tq, vw)) =>
            batch(k)._2 == n && batch(k)._3 == tq && batch(k)._4 == vw
        }
      } finally q.stop()
    }

  property("flowImbalanceStream: equals batch OFI on ANY feed (sign carry, nulls, any split)") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b"),
        Gen.option(Gen.choose(1, 5)),       // tiny price domain: zero
                                            // changes and sign flips are
                                            // COMMON, stressing the carry
        Gen.option(Gen.choose(1, 999)))),   // fractional qty (hundredths)
      Gen.choose(0, 5)) { (rowsRaw, splitRaw) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.functions.{col, lit}
      val rows = rowsRaw.zipWithIndex.map { case ((k, pc, qc), i) =>
        (k, i.toLong, pc.map(_.toDouble), qc.map(_ / 100.0)) }
      val split = math.min(splitRaw, rows.size)
      val mem = MemoryStream[(String, Long, Option[Double], Option[Double])]
      val name = s"flow_law_${streamLawCounter.incrementAndGet()}"
      val q = EventStream.flowImbalanceStream(spark,
          mem.toDF().toDF("sym", "seq", "price", "qty"),
          "sym", "seq", "price", "qty")
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        if (split > 0) { mem.addData(rows.take(split): _*); q.processAllAvailable() }
        if (rows.size > split) mem.addData(rows.drop(split): _*)
        q.processAllAvailable()
        val latest = spark.table(name)
          .as[(String, Long, Long, Double, Double, Option[Double])].collect()
          .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
        val batch = graft.ops.Risk.flowImbalance(
            rows.toDF("sym", "seq", "price", "qty"), "sym", Seq(col("seq")),
            col("price"), col("qty"), lit(1))
          .as[(String, Int, Long, Double, Double, Option[Double])].collect()
          .map(r => r._1 -> r).toMap
        // a key with zero classified ticks: batch emits no row, the
        // stream's latest says n = 0 — both assert "nothing signed"
        latest.forall { case (k, (_, _, n, signed, total, ofi)) =>
          batch.get(k) match {
            case None => n == 0L
            case Some(b) => n == b._3 && signed == b._4 && total == b._5 &&
              ofi == b._6
          }
        } && batch.keySet.subsetOf(latest.keySet)
      } finally q.stop()
    }

  property("distributionDrift: equals the driver-side smoothed-KL mirror on any histograms") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 4L)),
      Gen.nonEmptyListOf(Gen.choose(0L, 4L))) { (as, bs) =>
      import org.apache.spark.sql.functions.col
      val got = graft.text.TextStats.distributionDrift(
          as.toDF("b"), bs.toDF("b"), col("b"))
        .as[(Long, Long, Long, Double, Double, Double, Double)].collect()
      def r(d: Double, s: Int) = BigDecimal(d).setScale(s,
        BigDecimal.RoundingMode.HALF_UP)
      val buckets = (as ++ bs).distinct.sorted
      val k = buckets.size
      val cA = as.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cB = bs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val expect = buckets.map { bk =>
        val (na, nb) = (cA.getOrElse(bk, 0L), cB.getOrElse(bk, 0L))
        val paD = (na + 1).toDouble / (as.size + k)
        val pbD = (nb + 1).toDouble / (bs.size + k)
        val contrib = r(paD, 9) * r(math.log(paD / pbD), 12)
        (bk, na, nb, r(paD, 9).toDouble, r(pbD, 9).toDouble, contrib)
      }
      val klTotal = r(expect.map(_._6).sum.toDouble, 9).toDouble
      got.length == expect.size && got.sortBy(_._1).zip(expect).forall {
        case ((gb, gna, gnb, gpa, gpb, gc, gt), (eb, ena, enb, epa, epb, ec)) =>
          gb == eb && gna == ena && gnb == enb && gpa == epa && gpb == epb &&
            gc == r(ec.toDouble, 12).toDouble && gt == klTotal
      }
    }

  property("vocabChurn: equals the brute-force top-V overlap for any slices") =
    forAll(
      Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d"))),
      Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.oneOf("c", "d", "e", "f"))),
      Gen.choose(1, 4)) { (at, bt, v) =>
      def df(ts: List[List[String]]) = ts.zipWithIndex
        .map { case (t, i) => (i.toLong, t.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.text.TextStats.vocabChurn(df(at), df(bt), "text", v)
        .as[(Long, Long, Long, Double)].collect().head
      def top(ts: List[List[String]]) = ts.flatten.groupBy(identity)
        .view.mapValues(_.size).toSeq
        .sortBy { case (t, f) => (-f, t) }.take(v).map(_._1).toSet
      val (va, vb) = (top(at), top(bt))
      val sh = (va & vb).size
      val jac = BigDecimal(sh.toDouble / (va.size + vb.size - sh))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      got == ((va.size.toLong, vb.size.toLong, sh.toLong, jac))
    }

  property("centroidDrift: equals the driver-side mean-vector cosine") =
    forAll(
      Gen.nonEmptyListOf(Gen.listOfN(3, Gen.choose(-5, 5))),
      Gen.nonEmptyListOf(Gen.listOfN(3, Gen.choose(-5, 5)))) { (av, bv) =>
      def df(vs: List[List[Int]]) =
        vs.map(v => Tuple1(v.map(_.toFloat).toArray)).toDF("embedding")
      val got = graft.vector.Similarity.centroidDrift(df(av), df(bv), "embedding")
        .as[(Long, Option[Double], Double, Double)].collect().head
      def r(d: Double, s: Int) = BigDecimal(d).setScale(s,
        BigDecimal.RoundingMode.HALF_UP)
      // integer components ⇒ the decimal fixes are exact; mirror the
      // formula shape (round-9 means, exact products, double cosine)
      def mean(vs: List[List[Int]], d: Int) =
        r(vs.map(_(d)).sum.toDouble / vs.size, 9)
      val (ma, mb) = ((0 until 3).map(mean(av, _)), (0 until 3).map(mean(bv, _)))
      val ab = ma.zip(mb).map { case (x, y) => x * y }.sum
      val aa = ma.map(x => x * x).sum
      val bb = mb.map(x => x * x).sum
      val cos = if (aa > 0 && bb > 0)
        Some(r(ab.toDouble / (math.sqrt(aa.toDouble) * math.sqrt(bb.toDouble)),
          6).toDouble)
      else None
      got._1 == 3L && got._2 == cos &&
        got._3 == r(math.sqrt(aa.toDouble), 9).toDouble &&
        got._4 == r(math.sqrt(bb.toDouble), 9).toDouble
    }

  property("sharpeStream: equals batch Sharpe on ANY feed (gaps, constant runs, any split)") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b"),
        Gen.option(Gen.choose(1, 6)))),   // tiny domain: zero-variance
                                          // and single-return keys common
      Gen.choose(0, 5)) { (rowsRaw, splitRaw) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.functions.col
      val rows = rowsRaw.zipWithIndex.map { case ((k, pc), i) =>
        (k, i.toLong, pc.map(_ * 10.0)) }
      val split = math.min(splitRaw, rows.size)
      val mem = MemoryStream[(String, Long, Option[Double])]
      val name = s"sharpe_law_${streamLawCounter.incrementAndGet()}"
      val q = EventStream.sharpeStream(spark,
          mem.toDF().toDF("sym", "seq", "price"), "sym", "seq", "price")
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        if (split > 0) { mem.addData(rows.take(split): _*); q.processAllAvailable() }
        if (rows.size > split) mem.addData(rows.drop(split): _*)
        q.processAllAvailable()
        val latest = spark.table(name)
          .as[(String, Long, Long, Option[Double], Option[Double])].collect()
          .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
        val batch = graft.ops.Stats.sharpe(
            rows.toDF("sym", "seq", "price"), "sym", Seq(col("seq")),
            col("price"))
          .as[(String, Long, Double, Option[Double])].collect()
          .map(r => r._1 -> r).toMap
        // a key with zero defined returns: batch emits no row, the
        // stream's latest says n = 0
        latest.forall { case (k, (_, _, n, mean, sh)) =>
          batch.get(k) match {
            case None => n == 0L && mean.isEmpty
            case Some(b) => n == b._2 && mean.contains(b._3) && sh == b._4
          }
        } && batch.keySet.subsetOf(latest.keySet)
      } finally q.stop()
    }

  property("ewmaStream: equals batch ewma tick-for-tick on ANY feed (nulls, any alpha, any split)") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b"),
        Gen.option(Gen.choose(1, 99999)))),   // price in cents, or null
      Gen.choose(1, 99),                      // alpha in percent
      Gen.choose(0, 5)) { (rowsRaw, alphaPct, splitRaw) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.functions.col
      val alpha = alphaPct / 100.0
      val rows = rowsRaw.zipWithIndex.map { case ((k, pc), i) =>
        (k, i.toLong, pc.map(_ / 100.0)) }
      val split = math.min(splitRaw, rows.size)
      val mem = MemoryStream[(String, Long, Option[Double])]
      val name = s"ewma_law_${streamLawCounter.incrementAndGet()}"
      val q = EventStream.ewmaStream(spark,
          mem.toDF().toDF("sym", "seq", "price"), "sym", "seq", "price", alpha)
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        if (split > 0) { mem.addData(rows.take(split): _*); q.processAllAvailable() }
        if (rows.size > split) mem.addData(rows.drop(split): _*)
        q.processAllAvailable()
        val got = spark.table(name)
          .as[(String, Long, Double, Double)].collect()
          .map(r => (r._1, r._2) -> r._4).toMap
        // a batch frame spanning the whole history folds the IDENTICAL
        // double sequence oldest→newest — bit-exact, any alpha
        val batch = graft.ops.Stats.ewma(
            rows.toDF("sym", "seq", "price"), "sym", Seq(col("seq")),
            col("price"), alpha, window = rows.size + 1)
          .select("sym", "seq", "ewma").as[(String, Long, Double)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        got == batch
      } finally q.stop()
    }

  property("rsiStream: equals batch RSI tick-for-tick on ANY feed (flat runs, nulls, any period, any split)") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b"),
        Gen.option(Gen.choose(1, 8)))),       // tiny domain: zero deltas
                                              // and sign flips are COMMON
      Gen.choose(1, 4), Gen.choose(0, 5)) { (rowsRaw, period, splitRaw) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.functions.col
      val rows = rowsRaw.zipWithIndex.map { case ((k, pc), i) =>
        (k, i.toLong, pc.map(_ / 4.0)) }      // fractional quarter steps
      val split = math.min(splitRaw, rows.size)
      val mem = MemoryStream[(String, Long, Option[Double])]
      val name = s"rsi_law_${streamLawCounter.incrementAndGet()}"
      val q = EventStream.rsiStream(spark,
          mem.toDF().toDF("sym", "seq", "price"), "sym", "seq", "price",
          period = period)
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        if (split > 0) { mem.addData(rows.take(split): _*); q.processAllAvailable() }
        if (rows.size > split) mem.addData(rows.drop(split): _*)
        q.processAllAvailable()
        val got = spark.table(name)
          .select("key", "seq", "n_deltas", "rsi")
          .as[(String, Long, Long, Option[Double])].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
        val batch = graft.ops.Stats.rsi(
            rows.toDF("sym", "seq", "price"), "sym", Seq(col("seq")),
            col("price"), period = period)
          .select("sym", "seq", "n_deltas", "rsi")
          .as[(String, Long, Long, Option[Double])].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
        got == batch
      } finally q.stop()
    }

  property("bollingerStream: equals batch bands tick-for-tick on ANY feed (collapsed bands, nulls, any split)") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b"),
        Gen.option(Gen.choose(1, 6)))),       // tiny domain: constant
                                              // windows (no std) common
      Gen.choose(1, 4), Gen.oneOf(0.4, 1.0, 2.0),
      Gen.choose(0, 5)) { (rowsRaw, window, k, splitRaw) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.functions.col
      val rows = rowsRaw.zipWithIndex.map { case ((kk, pc), i) =>
        (kk, i.toLong, pc.map(_ / 4.0)) }
      val split = math.min(splitRaw, rows.size)
      val mem = MemoryStream[(String, Long, Option[Double])]
      val name = s"boll_law_${streamLawCounter.incrementAndGet()}"
      val q = EventStream.bollingerStream(spark,
          mem.toDF().toDF("sym", "seq", "price"), "sym", "seq", "price",
          window = window, k = k)
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        if (split > 0) { mem.addData(rows.take(split): _*); q.processAllAvailable() }
        if (rows.size > split) mem.addData(rows.drop(split): _*)
        q.processAllAvailable()
        val got = spark.table(name)
          .select("key", "seq", "roll_n", "bb_mid", "bb_upper", "bb_lower", "pct_b")
          .as[(String, Long, Long, Double, Option[Double], Option[Double], Option[Double])]
          .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
        val batch = graft.ops.Stats.bollinger(
            rows.toDF("sym", "seq", "price"), "sym", Seq(col("seq")),
            col("price"), window = window, k = k)
          .select("sym", "seq", "roll_n", "bb_mid", "bb_upper", "bb_lower", "pct_b")
          .as[(String, Long, Long, Double, Option[Double], Option[Double], Option[Double])]
          .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
        got == batch
      } finally q.stop()
    }

  property("drawdownStream: latest equals batch maxDrawdown on ANY feed (nulls, any split)") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b"),
        Gen.option(Gen.choose(1, 99999)))),   // price in cents, or null
      Gen.choose(0, 5)) { (rowsRaw, splitRaw) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.functions.col
      val rows = rowsRaw.zipWithIndex.map { case ((k, pc), i) =>
        (k, i.toLong, pc.map(_ / 100.0)) }
      val split = math.min(splitRaw, rows.size)
      val mem = MemoryStream[(String, Long, Option[Double])]
      val name = s"dd_law_${streamLawCounter.incrementAndGet()}"
      val q = EventStream.drawdownStream(spark,
          mem.toDF().toDF("sym", "seq", "price"), "sym", "seq", "price")
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        if (split > 0) { mem.addData(rows.take(split): _*); q.processAllAvailable() }
        if (rows.size > split) mem.addData(rows.drop(split): _*)
        q.processAllAvailable()
        val latest = spark.table(name)
          .as[(String, Long, Long, Double, Double, Double)].collect()
          .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
        val batch = graft.ops.Stats.maxDrawdown(
            rows.toDF("sym", "seq", "price"), "sym", Seq(col("seq")),
            col("price"))
          .select("sym", "max_drawdown", "peak", "n_ticks")
          .as[(String, Double, Double, Long)].collect()
          .map(r => r._1 -> r).toMap
        // a key whose ticks are ALL null vanishes from BOTH sides
        latest.keySet == batch.keySet && latest.forall {
          case (k, (_, _, n, peak, _, maxDd)) =>
            batch(k)._4 == n && batch(k)._3 == peak && batch(k)._2 == maxDd
        }
      } finally q.stop()
    }

  property("atrStream: equals batch atrChannels bar-for-bar on ANY feed (null bars, any nBars, any split)") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b"),
        Gen.option(Gen.choose(1, 12)), Gen.option(Gen.choose(1, 12)),
        Gen.option(Gen.choose(1, 12)))),      // h/l/c independently null
      Gen.choose(1, 3), Gen.choose(0, 5)) { (barsRaw, nBars, splitRaw) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.functions.col
      // small quarter-step domain: Donchian ties and zero ranges common;
      // h/l/c unordered on purpose — TR only needs the differences
      val bars = barsRaw.zipWithIndex.map { case ((k, h, l, c), i) =>
        (k, i.toLong, h.map(_ / 4.0), l.map(_ / 4.0), c.map(_ / 4.0)) }
      val split = math.min(splitRaw, bars.size)
      val mem = MemoryStream[(String, Long, Option[Double], Option[Double], Option[Double])]
      val name = s"atr_law_${streamLawCounter.incrementAndGet()}"
      val q = EventStream.atrStream(spark,
          mem.toDF().toDF("sym", "bar", "high", "low", "close"),
          "sym", "bar", "high", "low", "close", nBars = nBars)
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        if (split > 0) { mem.addData(bars.take(split): _*); q.processAllAvailable() }
        if (bars.size > split) mem.addData(bars.drop(split): _*)
        q.processAllAvailable()
        val got = spark.table(name)
          .as[(String, Long, Double, Double, Double, Option[Double],
            Option[Double], Option[Double], Option[Int], Option[Int])]
          .collect().map(r => (r._1, r._2) -> r).toMap
        val batch = graft.ops.Risk.atrChannels(
            bars.toDF("sym", "bar", "high", "low", "close"),
            "sym", col("bar"), nBars = nBars)
          .as[(String, Long, Double, Double, Double, Option[Double],
            Option[Double], Option[Double], Option[Int], Option[Int])]
          .collect().map(r => (r._1, r._2) -> r).toMap
        got == batch
      } finally q.stop()
    }

  property("realizedVarianceStream: latest equals batch RV per (key, bucket) on ANY feed (straddles, nulls, any split)") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b"),
        Gen.option(Gen.choose(1, 6)))),       // tiny domain: zero returns
                                              // and flat buckets common
      Gen.choose(1, 3),                       // bucket width in ticks
      Gen.choose(0, 5)) { (rowsRaw, bucketW, splitRaw) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.functions.col
      // bucket = seq / width: monotone per key in seq order, and a
      // return regularly STRADDLES the boundary (its two ticks land in
      // different buckets) — the convention under test
      val rows = rowsRaw.zipWithIndex.map { case ((k, pc), i) =>
        (k, i.toLong, pc.map(_ * 10.0), i.toLong / bucketW) }
      val split = math.min(splitRaw, rows.size)
      val mem = MemoryStream[(String, Long, Option[Double], Long)]
      val name = s"rv_law_${streamLawCounter.incrementAndGet()}"
      val q = EventStream.realizedVarianceStream(spark,
          mem.toDF().toDF("sym", "seq", "price", "bkt"),
          "sym", "seq", "price", "bkt")
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        if (split > 0) { mem.addData(rows.take(split): _*); q.processAllAvailable() }
        if (rows.size > split) mem.addData(rows.drop(split): _*)
        q.processAllAvailable()
        val latest = spark.table(name)
          .as[(String, Long, Long, Long, Double, Double)].collect()
          .groupBy(r => (r._1, r._3))
          .map { case (k, rs) => k -> rs.maxBy(_._2) }
        val batch = graft.ops.Stats.realizedVariance(
            rows.toDF("sym", "seq", "price", "bkt"), "sym", Seq(col("seq")),
            col("price"), col("bkt"))
          .as[(String, Long, Long, Double, Double)].collect()
          .map(r => (r._1, r._2) -> r).toMap
        // only buckets holding >= 1 defined return exist, on BOTH sides
        latest.keySet == batch.keySet && latest.forall {
          case (k, (_, _, _, n, rv, vol)) =>
            batch(k)._3 == n && batch(k)._4 == rv && batch(k)._5 == vol
        }
      } finally q.stop()
    }

  property("averageHash64: encodePngBits roundtrip is the identity at any scale") =
    forAll(Gen.choose(Long.MinValue, Long.MaxValue), Gen.choose(1, 3)) { (bits0, s) =>
      // all-64-bits-set is the one degenerate pattern (every cell equals
      // the mean, so strict > yields 0) — steer off it, as the fixture's
      // id domain never reaches it either
      val bits = if (java.lang.Long.bitCount(bits0) == 64) bits0 ^ 1L else bits0
      graft.multimodal.Media.ImageCodec.averageHash64(
        graft.multimodal.Media.ImageCodec.encodePngBits(s, bits))
        .contains(bits)
    }

  property("phash banding: banded pairs equal exact pairs on ANY hash set (pigeonhole, generatively)") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, Long.MaxValue))) { raw =>
      import org.apache.spark.sql.functions.col
      // random 63-bit patterns (all-64-set steered off via the encode
      // identity's domain) — a different regime from the dense-id gate
      // fixture: chunk collisions here are birthday-rare, and the
      // banding must STILL lose nothing for hamming <= 3
      val bits = raw.distinct.take(12).map(b =>
        if (java.lang.Long.bitCount(b) == 64) b ^ 1L else b)
      // hand the engine arbitrary hashes by bypassing the id fixture:
      // encode each pattern directly
      val payloads = bits.zipWithIndex.map { case (b, i) =>
        (i.toLong, "png",
          graft.multimodal.Media.ImageCodec.encodePngBits(1, b))
      }.toDF("media_id", "format", "payload")
      val exact = graft.multimodal.Media.phashExactPairs(spark, payloads)
        .as[(Long, Long, Int)].collect().toSet
      spark.catalog.clearCache()
      val banded = graft.multimodal.Media.phashBandedPairs(spark, payloads)
        .as[(Long, Long, Int)].collect().toSet
      spark.catalog.clearCache()
      banded == exact
    }

  property("energyHash64: encodeWavBits roundtrip is the identity at any window width") =
    forAll(Gen.choose(Long.MinValue, Long.MaxValue), Gen.choose(1, 4)) { (bits0, spw) =>
      // all-64-set is the one degenerate pattern (every window equals
      // the mean) — steer off it, as for the image fixture
      val bits = if (java.lang.Long.bitCount(bits0) == 64) bits0 ^ 1L else bits0
      graft.multimodal.Media.AudioCodec.energyHash64(
        graft.multimodal.Media.AudioCodec.encodeWavBits(spw, bits))
        .contains(bits)
    }

  property("curateStream: kept set = earliest-batch min-id per distinct text, quality-gated, any split") =
    forAll(
      Gen.nonEmptyListOf(Gen.choose(0, 5)),   // text-pool index per doc
      Gen.choose(0, 5)) { (textIdx, splitRaw) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      // four quality-passing texts (25 tokens) + two that fail the gate
      val pool = Vector("a", "b", "c", "d").map(p =>
        (1 to 25).map(i => s"$p$i").mkString(" ")) ++
        Vector("too short one", "also short")
      val rows = textIdx.zipWithIndex.map { case (t, i) => (i.toLong, pool(t)) }
      val split = math.min(splitRaw, rows.size)
      val mem = MemoryStream[(Long, String)]
      val name = s"curate_law_${streamLawCounter.incrementAndGet()}"
      val q = EventStream.curateStream(spark,
          mem.toDF().toDF("doc_id", "text"), minTokens = 20)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        if (split > 0) { mem.addData(rows.take(split): _*); q.processAllAvailable() }
        if (rows.size > split) mem.addData(rows.drop(split): _*)
        q.processAllAvailable()
        val got = spark.table(name).select("doc_id").as[Long].collect().toSet
        // independent mirror: per distinct gate-passing text, the min id
        // of its EARLIEST batch — later copies suppressed forever
        val expect = Seq(rows.take(split), rows.drop(split))
          .filter(_.nonEmpty)
          .flatMap(_.groupBy(_._2).view.mapValues(_.map(_._1).min))
          .foldLeft(Map.empty[String, Long]) { case (acc, (t, id)) =>
            if (acc.contains(t)) acc else acc + (t -> id)
          }
          .collect { case (t, id) if t.split(" ").length >= 20 => id }
          .toSet
        got == expect
      } finally q.stop()
    }

  property("redactPiiExtended: checksums decide — valid scrubbed, one-digit twins and decoys kept") =
    forAll(Gen.listOfN(10, Gen.choose(0, 9)), Gen.listOfN(15, Gen.choose(0, 9)),
      Gen.choose(0L, 0xFFFFL)) { (bbanDs, cardDs, hx) =>
      import org.apache.spark.sql.functions.col
      // valid IBAN: ISO 7064 check digits over a random BBAN, computed
      // independently here by streaming mod-97 (BBAN ++ 'DE00' numeric)
      val bban = bbanDs.mkString
      val mod = (bban + "131400").foldLeft(0L)((m, c) => (m * 10 + (c - '0')) % 97)
      val iban = f"DE${98 - mod}%02d$bban"
      val ibanBad = iban.dropRight(1) + ((iban.last - '0' + 1) % 10)
      // valid card: Luhn digit over a random 15-digit body (doubling
      // walks from the right, check digit undoubled)
      val body = cardDs.mkString
      val luhnSum = body.reverse.zipWithIndex.map { case (c, i) =>
        val d = c - '0'
        if (i % 2 == 0) { val t = d * 2; if (t > 9) t - 9 else t } else d
      }.sum
      val cd = (10 - luhnSum % 10) % 10
      val card = body + cd
      val cardBad = body + ((cd + 5) % 10)
      val ip6 = s"2001:db8::${hx.toHexString}"
      // decoys the structural validator must spare: a clock time (3
      // groups, no '::'), a MAC address (6 groups), bare '::' scope
      // punctuation, and a two-letter a::b token (under the hex floor)
      val txt = s"pad $iban mid $ibanBad x $card y $cardBad " +
        s"z $ip6 t 12:30:45 m aa:bb:cc:dd:ee:ff f :: g ab::cd end"
      val out = graft.text.Curation.redactPiiExtended(
          Seq((1L, txt)).toDF("doc_id", "text"), "text")
        .select("text", "n_iban", "n_card", "n_ip6", "n_redactions")
        .as[(String, Long, Long, Long, Long)].collect().head
      out._2 == 1L && out._3 == 1L && out._4 == 1L && out._5 == 3L &&
        out._1.contains("<IBAN>") && out._1.contains(ibanBad) &&
        out._1.contains("<CARD>") && out._1.contains(cardBad) &&
        out._1.contains("<IP6>") && out._1.contains("12:30:45") &&
        out._1.contains("aa:bb:cc:dd:ee:ff") &&
        out._1.contains("f :: g") && out._1.contains("ab::cd")
    }

  property("redactPii: every planted PII item redacted, exact count, clean filler untouched") =
    forAll(
      Gen.choose(0, 3), Gen.choose(0, 3), Gen.choose(0, 3),
      Gen.listOfN(5, Gen.oneOf("alpha", "beta", "gamma", "delta")),
      Gen.choose(0L, 99999L)) { (ne, np, ni, filler, seed) =>
      import org.apache.spark.sql.functions.col
      // interleave PII among digit-free filler words so position and
      // adjacency vary; seed varies the concrete addresses/numbers
      val items =
        List.fill(ne)(s"u$seed@ex${seed % 7}.org") :::
        List.fill(np)(f"+1-555-${seed % 1000}%03d-${seed % 10000}%04d") :::
        List.fill(ni)(s"10.${seed % 256}.0.${seed % 100}")
      val words = filler.zipAll(items, "pad", "").flatMap {
        case (w, p) => Seq(w, p).filter(_.nonEmpty)
      }
      val txt = words.mkString(" ")
      val out = graft.text.Curation.redactPii(
          Seq((1L, txt)).toDF("doc_id", "text"), "text")
        .select("text", "n_redactions").as[(String, Long)].collect().head
      out._2 == (ne + np + ni).toLong &&
        out._1.sliding(7).count(_ == "<EMAIL>") == ne &&
        out._1.sliding(7).count(_ == "<PHONE>") == np &&
        out._1.sliding(4).count(_ == "<IP>") == ni &&
        filler.forall(out._1.contains) // clean words survive redaction
    }

  property("mergeIntervals: counts and coverage equal the brute-force union on ANY intervals") =
    forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0L, 1L), Gen.choose(0L, 40L), Gen.choose(-5L, 20L)))) { ivRaw =>
      import org.apache.spark.sql.functions.col
      // end = start + len; negative len ⇒ invalid row that must drop
      val iv = ivRaw.zipWithIndex.map { case ((k, s, len), i) =>
        (k, s, s + len, i.toLong) }
      val got = graft.ops.Windows.mergeIntervals(
          iv.toDF("k", "s", "e", "id"), Seq("k"), col("s"), col("e"),
          col("id"))
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val valid = iv.filter(r => r._2 <= r._3)
      val want = valid.groupBy(_._1).map { case (k, rs) =>
        // brute-force union: sweep sorted intervals, count islands by
        // the same touch-merges rule, sum merged lengths
        val sorted = rs.map(r => (r._2, r._3)).sortBy(identity)
        val islands = sorted.tail.foldLeft(List(sorted.head)) {
          case ((cs, ce) :: rest, (s, e)) =>
            if (s <= ce) (cs, math.max(ce, e)) :: rest
            else (s, e) :: (cs, ce) :: rest
          case (Nil, x) => List(x)
        }
        k -> ((rs.size.toLong, islands.size.toLong,
          islands.map { case (s, e) => e - s }.sum))
      }
      got == want
    }

  property("stripDupSpans: equals brute-force keep-first span removal on ANY corpus") =
    forAll(Gen.listOfN(8,
      Gen.chooseNum(1, 12).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))))) { docsRaw =>
      val n = 3
      val docs = docsRaw.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      val df = docs.map { case (id, ts) => (id, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      // brute force: positional n-grams (whole doc when shorter), global
      // keep-first by (doc, pos), clipped ranges, per-doc strip
      val grams = docs.flatMap { case (id, ts) =>
        if (ts.length >= n)
          (0 to ts.length - n).map(p => (ts.slice(p, p + n).mkString(" "), id, p))
        else Seq((ts.mkString(" "), id, 0))
      }
      val removed = grams.groupBy(_._1).values.flatMap { occ =>
        occ.sortBy(o => (o._2, o._3)).drop(1) // keep-first
      }.toSeq.filter(o => grams.count(_._1 == o._1) >= 2)
      val removedIdx = removed.groupBy(_._2).view.mapValues(_.flatMap { o =>
        val len = docs(o._2.toInt)._2.length
        o._3 to math.min(o._3 + n - 1, len - 1)
      }.toSet).toMap
      val want = docs.map { case (id, ts) =>
        val rm = removedIdx.getOrElse(id, Set.empty[Int])
        val kept = ts.zipWithIndex.filterNot { case (_, i) => rm(i) }.map(_._1)
        (id, ts.length.toLong, (ts.length - kept.length).toLong,
          kept.mkString(" "))
      }
      val got = graft.text.Dedup.stripDupSpans(df, "doc_id", "text", n)
        .orderBy("doc_id")
        .as[(Long, Long, Long, String)].collect().toSeq
      // and the span rows must tile exactly the removed index set
      val spanIdx = graft.text.Dedup.dupSpans(df, "doc_id", "text", n)
        .as[(Long, Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.flatMap(r =>
          r._2.toInt to r._3.toInt).toSet).toMap
      got == want && docs.forall { case (id, _) =>
        spanIdx.getOrElse(id, Set.empty[Int]) ==
          removedIdx.getOrElse(id, Set.empty[Int])
      }
    }

  property("ivfAdcProbeJoin: equals per-query ivfAdcProbe on ANY corpus") =
    forAll(
      Gen.listOfN(24, Gen.listOfN(4, Gen.choose(-4, 4).map(_.toFloat))),
      Gen.listOfN(3, Gen.choose(0, 23))) { (vecsRaw, queryIdx) =>
      import org.apache.spark.sql.functions.col
      // a zero vector ALWAYS rides along (id 9000): it has no cosine
      // direction, so the build must skip it rather than throw ANSI
      // DIVIDE_BY_ZERO in the assignment cosine — the seed-found
      // regression this pin keeps dead
      val emb = (vecsRaw.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          :+ (9000L, List.fill(4)(0.0f)))
        .toDF("vec_id", "embedding")
      val idx = java.nio.file.Files.createTempDirectory("graft_annlaw")
        .toString + "/index"
      graft.vector.Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding",
        idx, nCentroids = 4, nSub = 2, nCodes = 8)
      graft.engine.Caches.releaseAll()
      val qids = queryIdx.map(_.toLong).distinct
        .filter(q => vecsRaw(q.toInt).exists(_ != 0.0f))
      val batch = emb.filter(col("vec_id").isin(qids: _*))
      // the join's output carries no global order, and re-sorting by the
      // ROUNDED dist could disagree with the engine's unrounded ranking
      // on ties — compare per-query row SETS (both sides are top-k under
      // the same (unrounded dist, id) total order)
      val joined = graft.vector.Similarity.ivfAdcProbeJoin(
          spark, idx, batch, "vec_id", "embedding", 5, nProbe = 2)
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
      val solo = qids.map { q =>
        q -> graft.vector.Similarity.ivfAdcProbeById(
          spark, idx, emb, "vec_id", "embedding", q, 5, nProbe = 2)
          .as[(Long, Double)].collect().toSet
      }.toMap
      graft.engine.Caches.releaseAll()
      qids.forall(q =>
        joined.getOrElse(q, Set.empty) == solo.getOrElse(q, Set.empty))
    }

  property("clusterBalancedSample: equals brute-force assign+quota on ANY corpus") =
    forAll(Gen.listOfN(20,
      Gen.listOfN(3, Gen.choose(-4, 4).map(_.toDouble)))) { vecsRaw =>
      val vecs = vecsRaw.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val emb = vecs.map { case (id, v) => (id, v.map(_.toFloat)) }
        .toDF("vec_id", "embedding")
      val (nClusters, quota) = (3, 2)
      // brute force, mirroring the engine's arithmetic exactly: floats
      // widened to double, sequential dot, cosine = dot/(na*nb), argmax
      // ties to the LARGEST centroid id (the ivfAssign struct-max), rank
      // by the q96 hash mixer then id
      def dot(a: Seq[Double], b: Seq[Double]): Double =
        a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      val widened = vecs.map { case (id, v) =>
        (id, v.map(x => x.toFloat.toDouble)) }
      val nonzero = widened.filter { case (_, v) => dot(v, v) > 0 }
      val cents0 = nonzero.filter(_._1 % 31 == 0).sortBy(_._1).take(nClusters)
      val cents = if (cents0.nonEmpty) cents0
        else nonzero.sortBy(_._1).take(nClusters)
      val p = 1000000007L
      val want = nonzero.map { case (id, v) =>
          val best = cents.map { case (cid, cv) =>
            (dot(v, cv) / (math.sqrt(dot(v, v)) * math.sqrt(dot(cv, cv))), cid)
          }.maxBy(identity) // (cos, cid): ties take the larger cid
          (id, best._2)
        }
        .groupBy(_._2).toSeq.flatMap { case (cluster, members) =>
          members.map(_._1).sortBy(id => (((id % p) * 2654435761L) % p, id))
            .take(quota).zipWithIndex
            .map { case (id, i) => (id, cluster, (i + 1).toLong) }
        }.toSet
      val got = graft.vector.Similarity.clusterBalancedSample(
          emb, "vec_id", "embedding", nClusters, quota)
        .as[(Long, Long, Long)].collect().toSet
      got == want
    }

  property("pq reconstruction: EXACT (mse 0) when every vector gets its own codeword") =
    forAll(Gen.listOfN(12,
      Gen.listOfN(4, Gen.choose(-8, 8).map(_ * 0.25)))) { vecsRaw =>
      // n <= nCodes and values on the training's 6-dp grid: the init
      // codebook holds every subvector, Lloyd recenters each codeword on
      // the mean of exactly its own members, so codes decode each vector
      // to itself — reconstruction error must be identically zero. (A
      // corpus with n > nCodes or off-grid values earns honest loss.)
      val emb = vecsRaw.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
        .toDF("vec_id", "embedding")
      val idx = java.nio.file.Files.createTempDirectory("graft_pqexact")
        .toString + "/index"
      graft.vector.Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding",
        idx, nCentroids = 4, nSub = 2, nCodes = 16)
      graft.engine.Caches.releaseAll()
      val mse = graft.vector.Similarity.pqReconstructionError(
          spark, idx, emb, "vec_id", "embedding")
        .as[(Long, Double)].collect()
      graft.engine.Caches.releaseAll()
      mse.length == vecsRaw.size && mse.forall(_._2 == 0.0)
    }

  property("hashedTfidf: equals brute-force hashing-trick TF-IDF on ANY corpus") =
    forAll(Gen.listOfN(6,
      Gen.chooseNum(0, 8).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "dd", "ee"))))) { docsRaw =>
      val dim = 8
      val docs = docsRaw.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      val df = docs.map { case (id, ts) => (id, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val nDocs = docs.size.toLong
      def bucket(tok: String): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(tok.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        java.lang.Long.parseLong(hex, 16) % dim
      }
      val tf = docs.flatMap { case (id, ts) => ts.map(t => (id, t)) }
        .groupBy(identity).view.mapValues(_.size).toMap
      val dfreq = tf.keys.groupBy(_._2).view.mapValues(_.size).toMap
      def idf(tok: String): BigDecimal =
        BigDecimal(math.log((nDocs + 1.0) / (dfreq(tok) + 1.0)) + 1.0)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      val want = tf.toSeq
        .map { case ((id, tok), n) =>
          ((id, bucket(tok)), (1L, BigDecimal(n) * idf(tok))) }
        .groupBy(_._1).view.mapValues { vs =>
          (vs.map(_._2._1).sum, vs.map(_._2._2).sum) }
        .map { case ((id, b), (terms, w)) => (id, b, terms, w.toDouble) }
        .toSet
      val got = graft.text.TextStats.hashedTfidf(df, "doc_id", "text", dim)
        .as[(Long, Long, Long, Double)].collect().toSet
      got == want
    }

  property("topDupSpans: re-aggregates dupSpans exactly (text slice, counts, burden)") =
    forAll(Gen.listOfN(8,
      Gen.chooseNum(1, 12).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c"))))) { docsRaw =>
      val n = 3
      val docs = docsRaw.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      val df = docs.map { case (id, ts) => (id, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val byId = docs.toMap
      // reference: slice each dupSpans row's text out of its doc, then
      // group by span string
      val spans = graft.text.Dedup.dupSpans(df, "doc_id", "text", n)
        .as[(Long, Long, Long, Long)].collect().toSeq
      val want = spans
        .map { case (id, s, e, tk) =>
          (byId(id).slice(s.toInt, e.toInt + 1).mkString(" "), id, tk) }
        .groupBy(_._1)
        .map { case (txt, rs) =>
          (txt, rs.size.toLong, rs.map(_._2).distinct.size.toLong,
            rs.map(_._3).sum) }
        .toSet
      val got = graft.text.Dedup.topDupSpans(df, "doc_id", "text", n,
          k = 1000)
        .as[(String, Long, Long, Long)].collect().toSet
      got == want
    }

  property("incrementalDupSpans: equals the symmetric dupSpans filtered to batch docs") =
    forAll(
      Gen.listOfN(6, Gen.chooseNum(1, 10).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c")))),
      Gen.listOfN(3, Gen.chooseNum(1, 10).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c"))))) { (corpusRaw, batchRaw) =>
      val n = 3
      val corpus = corpusRaw.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      val batch = batchRaw.zipWithIndex
        .map { case (ts, i) => (100L + i, ts.mkString(" ")) }
      val cdf = corpus.toDF("doc_id", "text")
      val bdf = batch.toDF("doc_id", "text")
      val got = graft.text.Dedup.incrementalDupSpans(cdf, bdf,
          "doc_id", "text", n)
        .orderBy("doc_id", "span_start")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val want = graft.text.Dedup.dupSpans(
          cdf.unionByName(bdf), "doc_id", "text", n)
        .filter(org.apache.spark.sql.functions.col("doc_id") >= 100L)
        .orderBy("doc_id", "span_start")
        .as[(Long, Long, Long, Long)].collect().toSeq
      got == want
    }

  property("contaminationSpans+stripSpans: equal brute-force eval-gram excision") =
    forAll(
      Gen.listOfN(5, Gen.chooseNum(1, 10).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c")))),
      Gen.listOfN(2, Gen.chooseNum(1, 8).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c"))))) { (trainRaw, evalRaw) =>
      import org.apache.spark.sql.functions.{col => c}
      val n = 3
      val train = trainRaw.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts, false) }
      val eval_ = evalRaw.zipWithIndex
        .map { case (ts, i) => (100L + i, ts, true) }
      val df = (train ++ eval_)
        .map { case (id, ts, ev) => (id, ts.mkString(" "), ev) }
        .toDF("doc_id", "text", "is_eval")
      def gramsOf(ts: Seq[String]) =
        if (ts.length >= n)
          (0 to ts.length - n).map(p => (ts.slice(p, p + n).mkString(" "), p))
        else Seq((ts.mkString(" "), 0))
      val evalSet = eval_.flatMap(e => gramsOf(e._2).map(_._1)).toSet
      // brute force: marked index ranges per train doc, then strip
      val wantSpans = train.flatMap { case (id, ts, _) =>
        val idx = gramsOf(ts).filter(g => evalSet(g._1))
          .flatMap { case (_, p) => p to math.min(p + n - 1, ts.length - 1) }
          .toSet
        // islands over the index set (adjacent indices merge)
        val sorted = idx.toSeq.sorted
        val spans = sorted.foldLeft(Vector.empty[(Int, Int)]) {
          case (acc, i) if acc.nonEmpty && i <= acc.last._2 + 1 =>
            acc.init :+ (acc.last._1, i)
          case (acc, i) => acc :+ (i, i)
        }
        spans.map { case (a, b) =>
          (id, a.toLong, b.toLong, (b - a + 1).toLong) }
      }
      val spansDf = graft.text.Dedup.contaminationSpans(df, "doc_id", "text",
        c("is_eval"), n)
      val gotSpans = spansDf.orderBy("doc_id", "span_start")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val gotStrip = graft.text.Dedup.stripSpans(
          df.filter(!c("is_eval")), "doc_id", "text", spansDf)
        .orderBy("doc_id")
        .as[(Long, Long, Long, String)].collect().toSeq
      val wantStrip = train.map { case (id, ts, _) =>
        val rm = wantSpans.filter(_._1 == id)
          .flatMap(sp => sp._2.toInt to sp._3.toInt).toSet
        val kept = ts.zipWithIndex.filterNot { case (_, i) => rm(i) }.map(_._1)
        (id, ts.length.toLong, (ts.length - kept.length).toLong,
          kept.mkString(" "))
      }
      gotSpans == wantSpans.sortBy(sp => (sp._1, sp._2)) &&
        gotStrip == wantStrip.sortBy(_._1)
    }

  property("trainBpe/applyBpe: equal the classic driver-side BPE on ANY corpus") =
    forAll(Gen.listOfN(6, Gen.chooseNum(1, 5).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("ab", "aab", "abb", "ba", "b", "a"))))) { docsRaw =>
      val nMerges = 6
      val docs = docsRaw.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" ")) }
      val df = docs.toDF("doc_id", "text")
      // brute force (Sennrich alg. 1): word-freq dict, iterate argmax
      // adjacent pair (count desc, left asc, right asc), greedy
      // leftmost merge, stop under minPairCount = 2
      var freq: Map[Vector[String], Long] = docs
        .flatMap(_._2.split(" ").filter(_.nonEmpty))
        .groupBy(identity).map { case (w, g) =>
          (w.map(_.toString).toVector :+ "</w>") -> g.size.toLong }
      def mergeSeq(sq: Vector[String], l: String, r: String): Vector[String] =
        sq.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == l && x == r)
            acc.init :+ (l + r)
          else acc :+ x
        }
      var wantMerges = Vector.empty[(Long, String, String, String, Long)]
      var stop = false
      while (!stop && wantMerges.size < nMerges) {
        val pairs = freq.toSeq.flatMap { case (sq, c) =>
          sq.zip(sq.tail).map(p => p -> c) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
        val best = pairs.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
        best match {
          case Some(((l, r), c)) if c >= 2 =>
            wantMerges :+= ((wantMerges.size.toLong, l, r, l + r, c))
            freq = freq.map { case (sq, n) => mergeSeq(sq, l, r) -> n }
              .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          case _ => stop = true
        }
      }
      val gotMerges = graft.text.Curation.trainBpe(df, "text", nMerges)
        .orderBy("rank")
        .as[(Long, String, String, String, Long)].collect().toSeq
      // apply-side: replaying the merges must reproduce the brute-force
      // per-doc segmentation
      val rules = wantMerges.map(m => (m._2, m._3))
      val gotTok = graft.text.Curation.applyBpe(df, "text", rules)
        .select("doc_id", "bpe_tokens")
        .as[(Long, Seq[String])].collect().toMap
      val wantTok = docs.map { case (id, text) =>
        id -> text.split(" ").filter(_.nonEmpty).toSeq.flatMap { w =>
          rules.foldLeft(w.map(_.toString).toVector :+ "</w>") {
            case (sq, (l, r)) => mergeSeq(sq, l, r) }
        }
      }.toMap
      gotMerges == wantMerges && docs.forall { case (id, _) =>
        gotTok(id) == wantTok(id) }
    }

  property("weightedSample: equals the brute-force exponential-key ranking on ANY weights") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 40L),
      Gen.choose(-2L, 500L))), Gen.choose(1, 8)) { (rowsRaw, k) =>
      import org.apache.spark.sql.functions.col
      val rows = rowsRaw.map(_._1).distinct.zip(rowsRaw.map(_._2)) // unique ids
      // weight reports as DOUBLE (round-9: fractional weights must not
      // truncate to 0 in the report)
      val got = graft.text.Curation.weightedSample(
          rows.toDF("doc_id", "w"), "doc_id", col("w"), k)
        .as[(Long, Double, Double, Int)].collect().toSeq
      val p = 1000000007L
      def key(id: Long, w: Long) = {
        val u = (((id % p) * 2654435761L % p) + 1).toDouble / (p + 1)
        BigDecimal(math.log(u) / w)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val want = rows.filter(_._2 > 0)
        .map { case (id, w) => (id, w, key(id, w)) }
        .sortBy { case (id, _, kk) => (-kk, id) }
        .take(k).zipWithIndex
        .map { case ((id, w, kk), i) => (id, w.toDouble, kk, i + 1) }
      got == want
    }

  property("neymanSample: quotas apportion the budget exactly and per-stratum picks honor them") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b", "c"),
      Gen.choose(0, 50))), Gen.choose(1, 12)) { (rowsRaw, n) =>
      import org.apache.spark.sql.functions.col
      val rows = rowsRaw.zipWithIndex.map { case ((s, v), i) => (s, i.toLong, v) }
      val out = graft.text.Curation.neymanSample(
          rows.toDF("src", "id", "v"), "src", "id", col("v"), n)
        .as[(String, Long, Int, Long)].collect()
      val byStratum = out.groupBy(_._1)
      val strata = rows.groupBy(_._1).view.mapValues(_.size).toMap
      // each stratum returns exactly min(quota, n_s) rows with ranks 1..m
      byStratum.forall { case (s, rs) =>
        val m = rs.size
        rs.map(_._3).sorted.toSeq == (1 to m) &&
          rs.head._4 <= strata(s) && m == rs.head._4.toInt.min(strata(s))
      } && {
        // when no cap binds, largest-remainder spends the budget EXACTLY
        // (strata with quota 0 emit no rows and contribute 0)
        val quotas = out.groupBy(_._1).map { case (_, rs) => rs.head._4 }
        val capped = out.groupBy(_._1).exists { case (s, rs) =>
          rs.head._4 == strata(s) }
        out.isEmpty || capped || quotas.sum == n.toLong
      }
    }

  property("sessionStats (streaming): sessions equal the gap-merge reference on ANY feed") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(1L, 2L),     // user
        Gen.choose(0, 90),                               // minute offset
        Gen.choose(1, 9999))),                           // value in cents
      Gen.choose(0, 5)) { (rowsRaw, splitRaw) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
      // session_window convention: an event's window [ts, ts+gap)
      // merges into the current session when it starts AT or before
      // the session end — delta <= gap merges, delta > gap splits,
      // the SAME boundary rule as batch Windows.sessionize
      val base = 1700000000L
      val gapSec = 600L // "10 minutes"
      val rows = rowsRaw.map { case (u, m, c) => (u, m.toLong, c) }
      val split = math.min(splitRaw, rows.size)
      val mem = MemoryStream[(Long, Long, Int)]
      val name = s"sess_law_${streamLawCounter.incrementAndGet()}"
      val q = EventStream.sessionStats(
          mem.toDF().toDF("user_id", "m", "cents")
            .select(col("user_id"),
              timestamp_seconds(lit(base) + col("m") * 60).as("ts"),
              (col("cents") / 100.0).as("value")),
          gap = "10 minutes")
        .writeStream.outputMode("complete").format("memory")
        .queryName(name).start()
      try {
        if (split > 0) { mem.addData(rows.take(split): _*); q.processAllAvailable() }
        if (rows.size > split) mem.addData(rows.drop(split): _*)
        q.processAllAvailable()
        val got = spark.table(name)
          .select(col("sess_start").cast("long"), col("sess_end").cast("long"),
            col("user_id"), col("n_events"),
            col("total_value").cast("double"))
          .as[(Long, Long, Long, Long, Double)].collect().toSet
        // reference: per user, sort seconds, split where delta > gap
        val want = rows.groupBy(_._1).flatMap { case (u, rs) =>
          val secs = rs.map { case (_, m, c) => (base + m * 60, c) }.sorted
          val sessions = secs.tail.foldLeft(List(List(secs.head))) {
            case (acc @ (cur :: rest), ev) =>
              if (ev._1 - cur.head._1 <= gapSec) (ev :: cur) :: rest
              else List(ev) :: acc
            case (Nil, ev) => List(List(ev))
          }
          sessions.map { s =>
            val ts = s.map(_._1)
            (ts.min, ts.max + gapSec, u, s.size.toLong,
              s.map(_._2).sum / 100.0)
          }
        }.toSet
        got == want
      } finally q.stop()
    }

  property("ivfAdcProbeRerankJoin: equals per-query rerank on ANY corpus") =
    forAll(
      Gen.listOfN(24, Gen.listOfN(4, Gen.choose(-4, 4).map(_.toFloat))),
      Gen.listOfN(3, Gen.choose(0, 23))) { (vecsRaw, queryIdx) =>
      import org.apache.spark.sql.functions.col
      // a zero vector ALWAYS rides along (id 9000): the index codes it,
      // so it can reach a shortlist, and both reranks must skip it rather
      // than throw ANSI DIVIDE_BY_ZERO in the exact cosine
      val emb = (vecsRaw.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          :+ (9000L, List.fill(4)(0.0f)))
        .toDF("vec_id", "embedding")
      val idx = java.nio.file.Files.createTempDirectory("graft_rrjlaw")
        .toString + "/index"
      graft.vector.Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding",
        idx, nCentroids = 4, nSub = 2, nCodes = 8)
      graft.engine.Caches.releaseAll()
      val qids = queryIdx.map(_.toLong).distinct
        .filter(q => vecsRaw(q.toInt).exists(_ != 0.0f))
      val batch = emb.filter(col("vec_id").isin(qids: _*))
      val joined = graft.vector.Similarity.ivfAdcProbeRerankJoin(
          spark, idx, emb, batch, "vec_id", "embedding", 4,
          shortlist = 8, nProbe = 2, idName = "vec_id")
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
      val solo = qids.map { q =>
        q -> graft.vector.Similarity.ivfAdcProbeRerankById(
          spark, idx, emb, "vec_id", "embedding", q, 4,
          shortlist = 8, nProbe = 2)
          .as[(Long, Double)].collect().toSet
      }.toMap
      graft.engine.Caches.releaseAll()
      qids.forall(q =>
        joined.getOrElse(q, Set.empty) == solo.getOrElse(q, Set.empty))
    }

  property("appendManifestIndexed: equals the self-deriving append on ANY corpus/batch") =
    forAll(
      Gen.listOfN(12, Gen.chooseNum(3, 7).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("alpha", "beta", "gamma", "delta")))),
      Gen.choose(3, 5)) { (docsRaw, nBatch) =>
      // small vocab + short docs ⇒ real exact dups and jaccard pairs;
      // consecutive ids ⇒ real fixture media edges (spreadBits hamming)
      val docs = docsRaw.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      val corpus = docs.take(docs.size - nBatch).toDF("doc_id", "text")
      val batch = docs.drop(docs.size - nBatch).toDF("doc_id", "text")
      val idx = java.nio.file.Files.createTempDirectory("graft_sigidxlaw")
        .toString + "/index"
      graft.multimodal.Curate.buildSignatureIndex(spark, corpus,
        "doc_id", "text", idx)
      val viaIndex = graft.multimodal.Curate.appendManifestIndexed(
          spark, idx, batch, "doc_id", "text")
        .collect().map(_.toSeq).toSet
      val inline = graft.multimodal.Curate.appendManifest(
          spark, corpus, batch, "doc_id", "text")
        .collect().map(_.toSeq).toSet
      graft.engine.Caches.releaseAll()
      viaIndex == inline
    }

  property("ivfAdcRerankTopK: exact cosine ranking over the ADC shortlist on ANY corpus") =
    forAll(Gen.listOfN(16,
      Gen.listOfN(4, Gen.choose(-4, 4).map(_.toFloat)))) { vecsRaw0 =>
      // pin a nonzero query vector (id 0) — a zero-norm query has no
      // cosine direction and the operators refuse it by contract
      val vecsRaw = Seq(Seq(1f, 2f, -1f, 3f)) ++ vecsRaw0.drop(1)
      val emb = vecsRaw.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val (k, shortlist) = (4, 8)
      val short = graft.vector.Similarity.ivfAdcTopK(emb, "vec_id",
          "embedding", 0L, shortlist, nCentroids = 4, nProbe = 2,
          nSub = 2, nCodes = 8)
        .as[(Long, Double)].collect().map(_._1).toSet
      graft.engine.Caches.releaseAll()
      val got = graft.vector.Similarity.ivfAdcRerankTopK(emb, "vec_id",
          "embedding", 0L, k, shortlist, nCentroids = 4, nProbe = 2,
          nSub = 2, nCodes = 8)
        .as[(Long, Double)].collect().map(_._1).toSeq
      graft.engine.Caches.releaseAll()
      def dot(a: Seq[Float], b: Seq[Float]): Double =
        a.zip(b).foldLeft(0.0) { case (s, (x, y)) =>
          s + x.toDouble * y.toDouble }
      val q = vecsRaw.head
      val want = vecsRaw.zipWithIndex.drop(1)
        .filter { case (v, i) => short(i.toLong) && dot(v, v) > 0 }
        .map { case (v, i) =>
          (math.rint(dot(v, q) / (math.sqrt(dot(v, v)) * math.sqrt(dot(q, q)))
            * 1e6) / 1e6, i.toLong) }
        .sortBy { case (c, id) => (-c, id) }.take(k).map(_._2)
      // zero-norm shortlist members: cosine NaN — the engine's round()
      // keeps NaN which sorts ABOVE all doubles in Spark's desc order;
      // exclude such corpora rather than encode that corner as a law
      val anyZero = vecsRaw.zipWithIndex.drop(1)
        .exists { case (v, i) => short(i.toLong) && dot(v, v) == 0 }
      anyZero || got == want
    }

  property("gumbelTopK: equals the driver closed form on ANY weights") =
    forAll(
      Gen.listOfN(12, Gen.zip(Gen.choose(0L, 500L),
        Gen.choose(-50.0, 50.0))),
      Gen.choose(1, 15)) { (rowsRaw, k) =>
      val rows = rowsRaw.toMap.toList // distinct ids
      val out = graft.text.Curation.gumbelTopK(
          rows.toDF("doc_id", "lw"), "doc_id",
          org.apache.spark.sql.functions.col("lw"), k)
        .as[(Long, Double, Double, Int)].collect().toSeq
      val p = 1000000007L
      def key(id: Long, lw: Double) = {
        val u = (((id % p) * 2654435761L % p) + 1).toDouble / (p + 1)
        BigDecimal(lw - math.log(-math.log(u)))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val expect = rows.map { case (id, lw) => (id, lw, key(id, lw)) }
        .sortBy { case (id, _, kk) => (-kk, id) }.take(k)
        .zipWithIndex.map { case ((id, lw, kk), i) => (id, lw, kk, i + 1) }
      out == expect
    }

  property("dsirLogWeights: equals the driver-side DSIR mirror on ANY corpus/slice") =
    forAll(
      Gen.listOfN(8, Gen.zip(Gen.choose(0L, 100L),
        Gen.listOf(Gen.oneOf("alpha", "beta", "gamma", "delta", "the", "la"))
          .map(_.take(5)),
        Gen.oneOf("tgt", "raw", null.asInstanceOf[String]))),
      Gen.oneOf(2, 16, 64)) { (rowsRaw, dim) =>
      // distinct ids; text joined with a mix of whitespace the tokenizer
      // must collapse identically on both sides
      val rows = rowsRaw.map { case (id, ws, sl) => id -> (ws.mkString("  "), sl) }
        .toMap.toList.map { case (id, (t, sl)) => (id, t, sl) }
      val out = graft.text.Curation.dsirLogWeights(
          rows.toDF("doc_id", "text", "slice"), "doc_id", "text",
          org.apache.spark.sql.functions.col("slice") === "tgt", dim)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      // driver mirror of the exact pipeline: ws-tokenize, unigrams ++
      // bigrams (short-doc fallback), md5 bucket, add-1 smoothed lls each
      // fixed to the 12-dp grid, exact decimal llr and weighted sum
      def toks(t: String): Seq[String] = {
        val o = t.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
        if (o.isEmpty) Seq("") else o
      }
      def feats(t: String): Seq[String] = {
        val w = toks(t)
        val bi = if (w.length < 2) Seq(w.mkString(" "))
                 else w.sliding(2).map(_.mkString(" ")).toSeq
        (w ++ bi).filter(_.nonEmpty)
      }
      def bucket(f: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(f.getBytes("UTF-8"))
        java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16) % dim
      }
      val perDoc = rows.flatMap { case (id, t, _) => feats(t).map(f => (id, bucket(f))) }
        .groupBy(identity).map { case ((id, b), l) => (id, b, l.size.toLong) }.toSeq
      val tgtIds = rows.collect { case (id, _, "tgt") => id }.toSet
      val cRaw = perDoc.groupBy(_._2).map { case (b, l) => b -> l.map(_._3).sum }
      val cTgt = perDoc.filter(r => tgtIds(r._1)).groupBy(_._2)
        .map { case (b, l) => b -> l.map(_._3).sum }
      val tRaw = cRaw.values.sum
      val tTgt = cTgt.values.sum
      def ln12(num: Long, den: Long): BigDecimal =
        BigDecimal(math.log(num.toDouble / den.toDouble))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      val llr = cRaw.keys.map { b =>
        b -> (ln12(cTgt.getOrElse(b, 0L) + 1, tTgt + dim) -
              ln12(cRaw(b) + 1, tRaw + dim))
      }.toMap
      val expect = perDoc.groupBy(_._1).map { case (id, l) =>
        val lw = l.map { case (_, b, c) => BigDecimal(c) * llr(b) }.sum
        (id, l.map(_._3).sum,
          BigDecimal(lw.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)
      }.toSeq.sorted
      out == expect
    }

  private val repDocGen: Gen[(Long, String)] = for {
    id <- Gen.choose(0L, 100L)
    nLines <- Gen.choose(1, 4)
    ls <- Gen.listOfN(nLines,
      Gen.listOf(Gen.oneOf("aa", "bb", "cc", "dd")).map(_.take(4)))
  } yield id -> ls.map(_.mkString(" ")).mkString("\n")

  property("repetitionRules: equals the driver-side mirror on ANY corpus") =
    forAll(Gen.nonEmptyListOf(repDocGen).map(_.take(6))) { rowsRaw =>
      val rows = rowsRaw.toMap.toList // distinct ids
      val out = graft.text.Curation.repetitionRules(
          rows.toDF("doc_id", "text"), "doc_id", "text")
        .as[(Long, Long, Long, Long, Long, String, Long, Long, Long,
             Boolean, Boolean, Boolean, Boolean, Boolean)]
        .collect().toSeq.sortBy(_._1)
      def dups(xs: Seq[String]): (Long, Long) = {
        val grouped = xs.groupBy(identity).values
        (grouped.map(g => (g.size - 1).toLong).sum,
         grouped.map(g => (g.size - 1).toLong * g.head.length).sum)
      }
      val expect = rows.map { case (id, text) =>
        val totalChars = text.length.toLong
        val lines = text.split("\n", -1).filter(_.nonEmpty).toSeq
        val toks = text.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
        def grams(n: Int): Seq[String] =
          if (toks.length < n) Seq(toks.mkString(" "))
          else toks.sliding(n).map(_.mkString(" ")).toSeq
        val (dl, dlc) = dups(lines)
        val g2 = grams(2)
        val (topG, topN) = g2.groupBy(identity).map { case (g, l) => (g, l.size) }
          .toSeq.sortBy { case (g, c) => (-c, g) }.head
        val topChars = topN.toLong * topG.length
        val (_, d5c) = dups(grams(5))
        (id, totalChars, lines.size.toLong, dl, dlc,
          topG, topN.toLong, topChars, d5c,
          10 * dl <= 3 * lines.size, 5 * dlc <= totalChars,
          5 * topChars <= totalChars, 20 * d5c <= 3 * totalChars,
          10 * dl <= 3 * lines.size && 5 * dlc <= totalChars &&
            5 * topChars <= totalChars && 20 * d5c <= 3 * totalChars)
      }.sortBy(_._1)
      out == expect
    }

  property("corpusLineDedup: equals the driver-side canonical-first mirror on ANY corpus") =
    forAll(Gen.listOfN(6, Gen.zip(Gen.choose(0L, 50L),
      Gen.nonEmptyListOf(Gen.oneOf("aa", "bb", "cc", " ", "")).map(_.take(4))))) {
      rowsRaw =>
      val rows = rowsRaw.toMap.toList
        .map { case (id, ls) => (id, ls.mkString("\n")) }
      val out = graft.text.Curation.corpusLineDedup(
          rows.toDF("doc_id", "text"), "doc_id", "text")
        .as[(Long, String, Long, Long)].collect().toSeq.sorted
      val lines = rows.flatMap { case (id, text) =>
        text.split("\n", -1).zipWithIndex.map { case (l, p) => (id, p, l) }
      }
      val active = lines.filter(_._3.trim.nonEmpty)
      val df = active.groupBy(_._3).map { case (l, g) => l -> g.size }
      val keeper = active.groupBy(_._3)
        .map { case (l, g) => l -> g.map(r => (r._1, r._2)).min }
      val expect = rows.map { case (id, text) =>
        val ls = text.split("\n", -1).zipWithIndex
        val kept = ls.filter { case (l, p) =>
          l.trim.isEmpty || df(l) < 2 || keeper(l) == ((id, p)) }
        (id, kept.map(_._1).mkString("\n"), ls.length.toLong,
          (ls.length - kept.length).toLong)
      }.sorted
      out == expect
    }

  property("winnowFingerprints: equals the driver-side mirror on ANY corpus/k/w") =
    forAll(
      Gen.listOfN(5, Gen.zip(Gen.choose(0L, 50L),
        Gen.listOf(Gen.oneOf("a", "b", "c")).map(_.take(8)))),
      Gen.choose(1, 4), Gen.choose(1, 5)) { (rowsRaw, k, w) =>
      val rows = rowsRaw.toMap.toList
      val out = graft.text.TextStats.winnowFingerprints(
          rows.map { case (id, ts) => (id, ts.mkString(" ")) }
            .toDF("doc_id", "text"), "doc_id", "text", k, w)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      def md5h(s: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
      }
      val expect = rows.flatMap { case (id, toks) =>
        val grams = if (toks.length < k) Seq(toks.mkString(" "))
                    else toks.sliding(k).map(_.mkString(" ")).toSeq
        val hs = grams.map(md5h)
        val n = hs.length
        (0 to math.max(n - w, 0)).map { i =>
          var best = (Long.MaxValue, -1)
          (i to math.min(i + w - 1, n - 1)).foreach { j =>
            if (hs(j) <= best._1) best = (hs(j), j) }
          (id, best._2.toLong, best._1)
        }.distinct
      }.sorted
      out == expect
    }

  property("hllDistinctAudit: equals the driver-side register mirror on ANY corpus") =
    forAll(Gen.listOfN(4, Gen.zip(Gen.choose(0L, 30L),
      Gen.listOf(Gen.oneOf("a", "b", "c", "d")).map(_.take(6))))) { rowsRaw =>
      val rows = rowsRaw.toMap.toList
      val p = 4; val m = 1 << p
      val out = graft.text.TextStats.hllDistinctAudit(
          rows.map { case (id, ts) => (id, ts.mkString(" ")) }
            .toDF("doc_id", "text"), "text", 3, p)
        .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
        .collect().head
      graft.engine.Caches.releaseAll()
      def md5bytes(s: String) = java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))
      def hx(b: Array[Byte]) = java.lang.Long.parseLong(
        b.map(x => f"$x%02x").mkString, 16)
      val grams = rows.flatMap { case (_, toks) =>
        val gs = if (toks.length < 3) Seq(toks.mkString(" "))
                 else toks.sliding(3).map(_.mkString(" ")).toSeq
        gs.filter(_.nonEmpty)
      }
      val regs = Array.fill(m)(0)
      grams.foreach { g =>
        val d = md5bytes(g)
        val (h1, h2) = (hx(d.take(4)), hx(d.slice(4, 8)))
        val b = (h1 % m).toInt
        val r = if (h2 == 0L) 33
                else 33 - java.lang.Long.toBinaryString(h2).length
        if (r > regs(b)) regs(b) = r
      }
      val sScaled = regs.map(r => 1L << (33 - r)).sum
      val vZero = regs.count(_ == 0).toLong
      val nExact = grams.distinct.size.toLong
      val c = graft.text.TextStats.hllEstimateConst(p)
      val rawEst = if (vZero < m) Some(c / sScaled) else None
      val errRatio = if (vZero < m && nExact > 0)
        Some(c / sScaled / nExact) else None
      out == ((m.toLong, vZero, sScaled, nExact, rawEst, errRatio))
    }

  property("appendWinnowOverlapPairs: base ∪ append equals the full recompute on ANY split") =
    forAll(
      Gen.listOfN(4, Gen.zip(Gen.choose(0L, 20L),
        Gen.listOf(Gen.oneOf("a", "b", "c")).map(_.take(8)))),
      Gen.listOfN(3, Gen.zip(Gen.choose(30L, 45L),
        Gen.listOf(Gen.oneOf("a", "b", "c")).map(_.take(8))))) {
      (oldRaw, newRaw) =>
      val oldRows = oldRaw.toMap.toList
        .map { case (id, ts) => (id, ts.mkString(" ")) }
      val newRows = newRaw.toMap.toList
        .map { case (id, ts) => (id, ts.mkString(" ")) }
      def run(f: => org.apache.spark.sql.DataFrame)
          : Set[(Long, Long, Long, Long, Long, Double)] = {
        val r = f.as[(Long, Long, Long, Long, Long, Double)]
          .collect().toSet
        graft.engine.Caches.releaseAll()
        r
      }
      val full = run(graft.text.TextStats.winnowOverlapPairs(
        (oldRows ++ newRows).toDF("doc_id", "text"), "doc_id", "text",
        3, 4, 2L))
      val base = run(graft.text.TextStats.winnowOverlapPairs(
        oldRows.toDF("doc_id", "text"), "doc_id", "text", 3, 4, 2L))
      val app = run(graft.text.TextStats.appendWinnowOverlapPairs(
        oldRows.toDF("doc_id", "text"), newRows.toDF("doc_id", "text"),
        "doc_id", "text", 3, 4, 2L))
      (base intersect app).isEmpty && (base union app) == full
    }

  property("kmvOverlapAudit: equals the driver-side bottom-k mirror on ANY corpus") =
    forAll(Gen.listOfN(6, Gen.zip(Gen.oneOf("s1", "s2", "s3"),
      Gen.listOf(Gen.oneOf("a", "b", "c", "d")).map(_.take(7))))) { rowsRaw =>
      val rows = rowsRaw.map { case (src, ts) => (src, ts.mkString(" ")) }
      val k = 4
      val out = graft.text.TextStats.kmvOverlapAudit(
          rows.toDF("source", "text"), "source", "text", 3, k)
        .as[(String, String, Long, Long, Long, Double, Double, Long, Long)]
        .collect().toSeq.sorted
      graft.engine.Caches.releaseAll()
      def md5h(s: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
      }
      val hs: Map[String, Set[Long]] = rows.groupBy(_._1).map {
        case (src, g) =>
          src -> g.flatMap { case (_, text) =>
            val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
            val gs = if (toks.length < 3) Seq(toks.mkString(" "))
                     else toks.sliding(3).map(_.mkString(" ")).toSeq
            gs.filter(_.nonEmpty)
          }.map(md5h).toSet
      }
      val present = hs.filter(_._2.nonEmpty)
      val slices = present.keys.toSeq.sorted
      val expect = (for {
        a <- slices; b <- slices if a < b
      } yield {
        val (sa, sb) = (present(a), present(b))
        val (ba, bb) = (sa.toSeq.sorted.take(k).toSet,
          sb.toSeq.sorted.take(k).toSet)
        val samp = (ba ++ bb).toSeq.sorted.take(k)
        val kEff = samp.size.toLong
        val theta = samp.max
        val cInter = samp.count(h => ba(h) && bb(h)).toLong
        val uEst = if (kEff < k) kEff.toDouble
          else if (theta > 0)
            ((kEff - 1) * 4294967296L).toDouble / theta else Double.NaN
        val iEst = (cInter * uEst) / kEff
        val nInter = (sa intersect sb).size.toLong
        (a, b, kEff, theta, cInter, uEst, iEst, nInter,
          sa.size.toLong + sb.size.toLong - nInter)
      }).sorted
      out == expect
    }

  property("hllRegisterFrame: per-shard registers merged by MAX equal global on ANY corpus") =
    forAll(Gen.listOfN(6, Gen.zip(Gen.oneOf("s1", "s2", "s3"),
      Gen.listOf(Gen.oneOf("a", "b", "c")).map(_.take(6))))) { rowsRaw =>
      val rows = rowsRaw.map { case (src, ts) => (src, ts.mkString(" ")) }
      val df = rows.toDF("source", "text")
      val p = 4
      val bySrc = graft.text.TextStats.hllRegisterFrame(
        graft.text.TextStats.gramStream(df, Seq("source"), "text", 3),
        Seq("source"), p)
      val merged = bySrc.groupBy(
          org.apache.spark.sql.functions.col("bucket"))
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col("r")).as("r"))
        .as[(Long, Int)].collect().toSeq.sorted
      val global = graft.text.TextStats.hllRegisterFrame(
        graft.text.TextStats.gramStream(df, Nil, "text", 3), Nil, p)
        .as[(Long, Int)].collect().toSeq.sorted
      merged == global
    }

  property("cmsHeavyHitters: equals the driver-side sketch mirror on ANY corpus") =
    forAll(Gen.listOfN(5, Gen.zip(Gen.choose(0L, 30L),
      Gen.listOf(Gen.oneOf("a", "b", "c")).map(_.take(6))))) { rowsRaw =>
      val rows = rowsRaw.toMap.toList
      val width = 16; val depth = 4; val topK = 50
      val out = graft.text.TextStats.cmsHeavyHitters(
          rows.map { case (id, ts) => (id, ts.mkString(" ")) }
            .toDF("doc_id", "text"), "text", 3, depth, width, topK)
        .as[(String, Long, Long, Long)].collect().toSeq.sorted
      graft.engine.Caches.releaseAll()
      def md5bytes(s: String) = java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))
      def hx(b: Array[Byte]) = java.lang.Long.parseLong(
        b.map(x => f"$x%02x").mkString, 16)
      val occs = rows.flatMap { case (_, toks) =>
        val gs = if (toks.length < 3) Seq(toks.mkString(" "))
                 else toks.sliding(3).map(_.mkString(" ")).toSeq
        gs.filter(_.nonEmpty)
      }
      val cms = occs.flatMap { g =>
        val d = md5bytes(g)
        val (a, b) = (hx(d.take(4)), hx(d.slice(4, 8)))
        (0 until depth).map(r => (r, (a + r * b) % width))
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val exact = occs.groupBy(identity)
        .map { case (g, v) => (g, v.size.toLong) }.toSeq
        .sortBy { case (g, c) => (-c, g) }.take(topK)
      val expect = exact.map { case (g, c) =>
        val d = md5bytes(g)
        val (a, b) = (hx(d.take(4)), hx(d.slice(4, 8)))
        val est = (0 until depth).map(r => cms((r, (a + r * b) % width))).min
        (g, c, est, est - c)
      }.sorted
      out == expect
    }

  property("sq8Audit: equals the driver-side integer-grid mirror on ANY corpus") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 40L),
      Gen.listOfN(3, Gen.chooseNum(-2.0f, 2.0f)))).map(_.take(8))) {
      rowsRaw =>
      val rows = rowsRaw.toMap.toList
      val out = graft.vector.Similarity.sq8Audit(
          rows.toDF("vec_id", "embedding"), "vec_id", "embedding")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      val vis = rows.map { case (id, v) =>
        id -> v.map(x => math.floor(x.toDouble * 1000000d).toLong) }
      val byDim = (0 until 3).map { d =>
        val col = vis.map(_._2(d))
        (col.min, col.max)
      }
      val expect = vis.map { case (id, v) =>
        val cs = v.zipWithIndex.map { case (vi, d) =>
          val (mn, mx) = byDim(d)
          val code = if (mx > mn)
            math.floor(((vi - mn) * 255L).toDouble / (mx - mn)).toLong
          else 0L
          val recon = mn + (if (mx > mn)
            math.floor((code * (mx - mn)).toDouble / 255d).toLong else 0L)
          (code, math.abs(vi - recon))
        }
        (id, 3L, cs.map(_._1).sum, cs.map(_._2).sum)
      }.sorted
      out == expect
    }

  property("bpeFertility: equals the driver-side greedy-fold mirror on ANY corpus") =
    forAll(Gen.listOfN(6, Gen.zip(Gen.oneOf("s1", "s2"),
      Gen.listOf(Gen.oneOf("ab", "ba", "abc", "c")).map(_.take(4))))) {
      rowsRaw =>
      val merges = Seq(("a", "b"), ("ab", "c"), ("c", "</w>"))
      val rows = rowsRaw.map { case (src, ws) => (src, ws.mkString(" ")) }
      val out = graft.text.Curation.bpeFertility(
          rows.toDF("source", "text"), "source", "text", merges)
        .as[(String, Long, Long, Long, Option[Double], Option[Double])]
        .collect().toSeq.sorted
      def pass(sy: List[String], l: String, r: String): List[String] =
        sy.foldLeft(List.empty[String]) { (acc, s) =>
          if (acc.nonEmpty && acc.last == l && s == r)
            acc.init :+ (l + r)
          else acc :+ s
        }
      val expect = rows.groupBy(_._1).toList.map { case (src, g) =>
        val wcs = g.flatMap(_._2.split("\\s+").filter(_.nonEmpty)).map { w =>
          merges.foldLeft(w.split("").toList :+ "</w>") {
            case (c, (l, r)) => pass(c, l, r) }.length.toLong
        }
        val nw = wcs.size.toLong
        (src, nw, wcs.sum, wcs.count(_ == 1L).toLong,
          if (nw > 0) Some(wcs.sum.toDouble / nw) else None,
          if (nw > 0) Some(wcs.count(_ == 1L).toDouble / nw) else None)
      }.sorted
      out == expect
    }

  property("winnowOverlapPairs: equals the driver-side mirror on ANY corpus") =
    forAll(Gen.listOfN(5, Gen.zip(Gen.choose(0L, 30L),
      Gen.listOf(Gen.oneOf("a", "b", "c")).map(_.take(8))))) { rowsRaw =>
      val rows = rowsRaw.toMap.toList
      val out = graft.text.TextStats.winnowOverlapPairs(
          rows.map { case (id, ts) => (id, ts.mkString(" ")) }
            .toDF("doc_id", "text"), "doc_id", "text", 3, 4, 2L)
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq.sorted
      graft.engine.Caches.releaseAll()
      def md5h(s: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
      }
      val k = 3; val w = 4
      val fps: Map[Long, Set[Long]] = rows.map { case (id, toks) =>
        val grams = if (toks.length < k) Seq(toks.mkString(" "))
                    else toks.sliding(k).map(_.mkString(" ")).toSeq
        val hs = grams.map(md5h)
        val n = hs.length
        id -> (0 to math.max(n - w, 0)).map { i =>
          var best = Long.MaxValue
          (i to math.min(i + w - 1, n - 1)).foreach { j =>
            if (hs(j) <= best) best = hs(j) }
          best
        }.toSet
      }.toMap
      val ids = fps.keys.toSeq.sorted
      val expect = (for {
        ia <- ids; ib <- ids if ia < ib
        sh = (fps(ia) intersect fps(ib)).size.toLong if sh >= 2
      } yield (ia, ib, fps(ia).size.toLong, fps(ib).size.toLong, sh,
        sh.toDouble / math.min(fps(ia).size, fps(ib).size))).sorted
      out == expect
    }

  property("lmPerplexity: equals the driver-side add-1 bigram LM on ANY corpus/slice") =
    forAll(Gen.listOfN(8, Gen.zip(Gen.choose(0L, 100L),
      Gen.listOf(Gen.oneOf("a", "b", "c", "d")).map(_.take(5)),
      Gen.oneOf("tgt", "raw", null.asInstanceOf[String])))) { rowsRaw =>
      val rows = rowsRaw.map { case (id, ws, sl) => id -> ((ws, sl)) }
        .toMap.toList.map { case (id, (ws, sl)) => (id, ws, sl) }
      val out = graft.text.Curation.lmPerplexity(
          rows.map { case (id, ws, sl) => (id, ws.mkString(" "), sl) }
            .toDF("doc_id", "text", "slice"),
          "doc_id", "text", org.apache.spark.sql.functions.col("slice") === "tgt")
        .as[(Long, Long, Double)].collect().toSeq.sorted
      val tgt = rows.filter(_._3 == "tgt")
      val v = tgt.flatMap(_._2).distinct.size + 1L
      def bigrams(ws: Seq[String]): Seq[(String, String)] =
        if (ws.length < 2) Seq.empty
        else ws.sliding(2).map { case Seq(p, w) => (p, p + " " + w) }.toSeq
      val lmBi = tgt.flatMap(r => bigrams(r._2)).groupBy(_._2)
        .map { case (g, l) => g -> l.size.toLong }
      val lmP = tgt.flatMap(r => bigrams(r._2)).groupBy(_._1)
        .map { case (p, l) => p -> l.size.toLong }
      def ln12(num: Long, den: Long): BigDecimal =
        BigDecimal(math.log(num.toDouble / den.toDouble))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      val expect = rows.flatMap { case (id, ws, _) =>
        val evs = bigrams(ws)
        if (evs.isEmpty) None else {
          val s = evs.groupBy(identity).map { case ((p, g), l) =>
            BigDecimal(l.size) *
              ln12(lmBi.getOrElse(g, 0L) + 1, lmP.getOrElse(p, 0L) + v)
          }.sum
          Some((id, evs.size.toLong,
            BigDecimal(-s.toDouble / evs.size)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        }
      }.sorted
      out == expect
    }

  property("compactFlat: preserves the row multiset and bounds file count on ANY table") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 50L),
        Gen.choose(-100.0, 100.0).map(d => math.rint(d * 4) / 4))),
      Gen.choose(1, 4)) { (rows, target) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_cflat")
        .toString + "/t"
      // accrete as several appends so there is genuinely something to
      // compact (each append lands >= 1 file)
      rows.grouped(math.max(rows.size / 3, 1)).foreach { g =>
        g.toDF("id", "v").repartition(2)
          .write.mode("append").parquet(dir)
      }
      val before = spark.read.parquet(dir)
        .as[(Long, Double)].collect().toSeq.sorted
      graft.engine.Layout.compactFlat(spark, dir, targetFiles = target)
      val after = spark.read.parquet(dir)
        .as[(Long, Double)].collect().toSeq.sorted
      val nf = graft.engine.Layout.flatFileCount(spark, dir)
      val hist = graft.engine.Layout.history(spark, dir, 5)
        .select("operation").as[String].collect()
      after == before && nf <= target && nf >= 1 &&
        hist.contains("OPTIMIZE_FLAT")
    }

  property("filteredTopK: selective exact path equals the full-width probe path on ANY corpus/predicate") =
    forAll(
      Gen.choose(12, 30),  // corpus size
      Gen.choose(2, 4),    // labels
      Gen.choose(1L, 997L) // vector seed
    ) { (n, nLabels, seed) =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until n).map { i =>
        (i.toLong,
          Seq.fill(4)((math.rint(rnd.nextGaussian() * 8) / 8).toFloat),
          i % nLabels)
      }
      val emb = rows.toDF("vec_id", "embedding", "label")
      val dir = java.nio.file.Files.createTempDirectory("graft_ftk")
        .toString + "/index"
      graft.vector.Similarity.buildIvfIndex(emb, "vec_id", "embedding",
        dir, nCentroids = 4)
      val allowed = emb.filter(org.apache.spark.sql.functions.col("label") === 1)
        .select(org.apache.spark.sql.functions.col("vec_id").as("id"))
      // selective path: budget above |allowed| → exact prefilter scan
      val sel = graft.vector.Similarity.filteredTopK(spark, dir, emb,
          "vec_id", "embedding", allowed, 0L, 5)
        .as[(Long, Double)].collect().toSeq
      // broad path forced (budget 0) at FULL probe width: the pruned
      // scan degenerates to the whole index, so both paths must agree
      // on ANY corpus and predicate — the law that anchors the switch
      val broad = graft.vector.Similarity.filteredTopK(spark, dir, emb,
          "vec_id", "embedding", allowed, 0L, 5,
          nProbe = 4, bruteForceBelow = 0L)
        .as[(Long, Double)].collect().toSeq
      graft.engine.Caches.releaseAll()
      spark.catalog.clearCache()
      sel == broad
    }

  property("bm25 index: build(base) + append(rest) probes equal build(all) AND the inline scorer on ANY split") =
    forAll(
      Gen.choose(4, 12),   // docs
      Gen.choose(1, 9),    // split point (doc id below → base)
      Gen.choose(1L, 997L) // text seed
    ) { (n, cut, seed) =>
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("spark", "vector", "merge", "tick", "gold", "silver")
      val rows = (0 until n).map { i =>
        (i.toLong, Seq.fill(3 + rnd.nextInt(8))(
          vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val docs = rows.toDF("doc_id", "text")
      val terms = Seq("spark", "vector", "merge")
      val all = java.nio.file.Files.createTempDirectory("graft_bm25a")
        .toString + "/index"
      graft.text.TextStats.buildBm25Index(docs, "doc_id", "text", all,
        nBuckets = 4)
      val inc = java.nio.file.Files.createTempDirectory("graft_bm25i")
        .toString + "/index"
      graft.text.TextStats.buildBm25Index(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") < cut),
        "doc_id", "text", inc, nBuckets = 4)
      graft.text.TextStats.appendBm25Index(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") >= cut),
        "doc_id", "text", inc)
      def probe(p: String) = graft.text.TextStats.bm25Probe(spark, p, terms)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      val inline = graft.text.TextStats.bm25(docs, "doc_id", "text", terms)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      graft.engine.Caches.releaseAll()
      spark.catalog.clearCache()
      probe(all) == inline && probe(inc) == inline
    }

  property("bm25 index: delete(ids) probes equal build(survivors), tombstoned AND purged") =
    forAll(
      Gen.choose(4, 10),   // docs
      Gen.choose(2, 5),    // delete every k-th doc (doc 1 always survives)
      Gen.choose(1L, 997L) // text seed
    ) { (n, delMod, seed) =>
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("spark", "vector", "merge", "tick", "gold", "silver")
      val docs = (0 until n).map { i =>
        (i.toLong, Seq.fill(3 + rnd.nextInt(8))(
          vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val dead = (0 until n by delMod).map(_.toLong)
      val terms = Seq("spark", "vector", "merge")
      val idx = java.nio.file.Files.createTempDirectory("graft_bm25d")
        .toString + "/index"
      graft.text.TextStats.buildBm25Index(docs, "doc_id", "text", idx,
        nBuckets = 4)
      IndexLifecycle.delete(IndexLifecycle.Bm25, spark, idx,
        dead.toDF("doc_id"), "doc_id")
      val fresh = java.nio.file.Files.createTempDirectory("graft_bm25f")
        .toString + "/index"
      graft.text.TextStats.buildBm25Index(
        docs.filter(!org.apache.spark.sql.functions.col("doc_id")
          .isin(dead: _*)),
        "doc_id", "text", fresh, nBuckets = 4)
      def probe(p: String) = graft.text.TextStats.bm25Probe(spark, p, terms)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      val want = probe(fresh)
      val tombstoned = probe(idx)
      IndexLifecycle.purge(IndexLifecycle.Bm25, spark, idx)
      val purged = probe(idx)
      graft.engine.Caches.releaseAll()
      spark.catalog.clearCache()
      tombstoned == want && purged == want
    }
}
