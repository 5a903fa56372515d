package graft

import java.sql.Timestamp

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based algebraic laws (SURVEY.md §5.2.3), driven by ScalaCheck
  * generators with fixed seeds (deterministic — no scalatestplus bridge
  * ships, so samples are drawn explicitly).
  *
  * Laws: the q27 last-writer-wins projection is the left fold of R8
  * updates; session windows per user never overlap and split exactly on
  * gaps > 30 min; union/intersect/except obey set algebra on the same
  * generated sets.
  */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  private val Samples = 15

  private def draw[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  // events: (event_id, user_id, value, ts-seconds) with deliberate ts ties
  private val eventsGen: Gen[List[(Long, Long, Long, Long)]] =
    Gen.listOfN(40, for {
      id <- Gen.choose(1L, 1000000L)
      user <- Gen.choose(1L, 5L)
      value <- Gen.choose(0L, 100L)
      ts <- Gen.choose(0L, 20L) // small range forces ties
    } yield (id, user, value, ts))

  test("q27 law: window projection == sequential last-writer-wins replay (R8)") {
    for (seed <- 1 to Samples) {
      val rows = draw(eventsGen, seed).distinctBy(_._1) // unique event ids
      if (rows.nonEmpty) {
        val df = rows.map { case (id, u, v, t) => (id, u, v, new Timestamp(t * 1000)) }
          .toDF("event_id", "user_id", "value", "ts")
        val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
        val projected = df.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"user_id", $"value").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap

        // the reference semantics: apply events one at a time in
        // (ts, event_id) order, each overwriting its user's row
        val replayed = rows.sortBy(e => (e._4, e._1))
          .foldLeft(Map.empty[Long, Long]) { case (state, (_, u, v, _)) => state + (u -> v) }

        assert(projected == replayed, s"seed=$seed")
      }
    }
  }

  test("q25 law: per-user sessions are disjoint and split exactly on gaps > 30 min") {
    val tsGen = Gen.listOfN(30, Gen.oneOf(
      Gen.choose(0L, 86400L),                  // arbitrary seconds in a day
      Gen.choose(0L, 28L).map(_ * 1800L)))     // on the 30-min grid → exact-gap cases
    for (seed <- 1 to Samples) {
      val ts = draw(tsGen, seed).distinct
      if (ts.nonEmpty) {
        val df = ts.map(t => (1L, new Timestamp(t * 1000))).toDF("user_id", "ts")
        val sessions = df
          .groupBy(session_window($"ts", "30 minutes"), $"user_id")
          .agg(count(lit(1)).as("n"))
          .select($"session_window.start".as("s"), $"session_window.end".as("e"), $"n")
          .orderBy($"s")
          .collect()
          .map(r => (r.getTimestamp(0).getTime / 1000, r.getTimestamp(1).getTime / 1000, r.getLong(2)))

        // disjoint, ordered, and the gap between consecutive sessions is
        // strictly positive (end = last event + 30 min, next start after it)
        // a merge happens while next_ts <= prev_end, so surviving session
        // boundaries satisfy start > previous end strictly
        sessions.sliding(2).foreach {
          case Array((_, e1, _), (s2, _, _)) => assert(s2 > e1, s"seed=$seed overlap")
          case _ => ()
        }
        // counts partition the events
        assert(sessions.map(_._3).sum == ts.length, s"seed=$seed")
        // reference implementation of the boundary rule: split iff gap > 30 min
        val expected = ts.sorted.foldLeft(List.empty[List[Long]]) {
          case (Nil, t) => List(List(t))
          case (cur :: rest, t) if t - cur.head > 1800 => List(t) :: cur :: rest
          case (cur :: rest, t) => (t :: cur) :: rest
        }.map(_.size).reverse
        assert(sessions.map(_._3.toInt).toList == expected, s"seed=$seed")
      }
    }
  }

  test("q57 law: distributed min-label components == driver-side union-find on random graphs") {
    // an in-memory union-find as independent ground truth
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val edgeGen = Gen.listOfN(30, for {
      a <- Gen.choose(1L, 20L) // dense enough to force multi-node chains
      b <- Gen.choose(1L, 20L) if a != b
    } yield (a, b))
    (1 to Samples).foreach { s =>
      val edges = draw(edgeGen, 5700L + s).distinct
      val want = unionFind(edges)
      // both distributed algorithms — min-label propagation (q57's) and
      // the large-star/small-star contraction — must produce the same
      // partitions as union-find, labeled by the component minimum.
      // (union-find roots are not canonical min — compare partitions.)
      for ((algo, name) <- Seq[(org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame, String)](
          (graft.queries.Dedup.connectedComponents(_), "min-label"),
          (graft.queries.Dedup.connectedComponentsLss _, "large-small-star"))) {
        val got = algo(edges.toDF("u", "v"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got.keySet == want.keySet, s"$name: node set mismatch (seed $s)")
        got.keys.foreach { n =>
          val cls = want.keys.filter(k => want(k) == want(n))
          assert(cls.forall(k => got(k) == got(n)), s"$name: component split (seed $s)")
          assert(got(n) == cls.min, s"$name: label not the component min (seed $s)")
        }
      }
    }
  }

  test("CC degenerate shapes: empty, self-loop, duplicate/symmetric edges, cross-partition chain") {
    import graft.queries.Dedup.connectedComponents
    // empty edge list → empty labeling
    assert(connectedComponents(Seq.empty[(Long, Long)].toDF("u", "v")).isEmpty)
    // a self-loop-only node keeps its singleton component (the partition
    // contraction must not swallow it)
    val selfLoop = connectedComponents(Seq((7L, 7L)).toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(selfLoop == Map(7L -> 7L))
    // duplicate and symmetric restatements of one edge collapse to one
    // 2-node component
    val dup = connectedComponents(Seq((1L, 2L), (2L, 1L), (1L, 2L)).toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dup == Map(1L -> 1L, 2L -> 1L))
    // a 40-node chain spread one-edge-per-partition: partition-local
    // contraction cannot shorten it, but pointer jumping converges it
    // well inside the 16-round cap (distance-to-minimum halves per round)
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("u", "v").repartition(32)
    val got = connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 40L).map(_ -> 1L).toMap)
    // the LSS escalation path stays reachable and correct: force it by
    // shrinking the iteration cap below what the chain needs (with
    // jumping, exhausting the REAL cap would take a diameter-2^16 graph)
    val viaFallback = graft.queries.Dedup.connectedComponents(chain, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFallback == (1L to 40L).map(_ -> 1L).toMap)
  }

  test("q84 law: df-capped output == qualifying pairs sharing >= 1 in-band shingle") {
    // The cap's exactness claim (Text.containmentPairs scaladoc): capped
    // candidate generation finds EXACTLY the containment >= 4/5 pairs
    // that share at least one shingle with 2 <= df <= cap. Checked on
    // random corpora with planted embeddings (true containment pairs) and
    // a planted boilerplate phrase (hot shingles), against the predicate
    // recomputed driver-side from raw shingle sets. Corollary asserted in
    // the VERDICT's phrasing: a pair whose smaller doc holds NO
    // over-the-cap shingle is never lost.
    val cap = 4L
    val bp = (0 until 12).map(i => s"bp$i")
    val docGen = for {
      n <- Gen.choose(6, 14)
      toks <- Gen.listOfN(n, Gen.choose(0, 60).map(i => s"t$i"))
      hasBp <- Gen.prob(0.4)
    } yield (toks, hasBp)
    for (seed <- 1 to Samples) {
      val bases = draw(Gen.listOfN(14, docGen), seed)
      val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      bases.zipWithIndex.foreach { case ((toks, hasBp), i) =>
        docs += ((i.toLong, (if (hasBp) toks ++ bp else toks).mkString(" ")))
        if (i % 2 == 0) // a superset doc embedding the base → containment pair
          docs += ((100L + i,
            (toks ++ List(s"x${i}a", s"x${i}b", s"x${i}c") ++ (if (hasBp) bp else Nil)).mkString(" ")))
      }
      val docsDF = docs.toSeq.toDF("doc_id", "text")

      def shingles(text: String): Set[String] = {
        val t = text.split(" ")
        if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString(" ")).toSet
      }
      val sets = docs.map { case (id, tx) => id -> shingles(tx) }.toMap
      val dfOf = docs.toSeq.flatMap { case (_, tx) => shingles(tx) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      def sharesInBand(a: Long, b: Long): Boolean =
        (sets(a) intersect sets(b)).exists(s => dfOf(s) <= cap)

      def run(maxDf: Long): Set[(Long, Long, Long, Long, Long)] =
        graft.queries.Text.containmentPairs(docsDF, maxDf).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val capped = run(cap)
      val uncapped = run(Long.MaxValue)

      assert(capped.subsetOf(uncapped), s"seed=$seed: capping added pairs")
      assert(capped == uncapped.filter(t => sharesInBand(t._1, t._2)),
        s"seed=$seed: capped output != in-band-sharing subset")
      val smallAllInBand = uncapped.filter(t => sets(t._1).forall(s => dfOf(s) <= cap))
      assert(smallAllInBand.subsetOf(capped),
        s"seed=$seed: lost a pair whose smaller set is under the cap")
      spark.catalog.clearCache()
    }
  }

  test("q51 law: split assignment is append-stable (a doc never moves when the corpus grows)") {
    // THE property hash-splitting buys over rand(): assignment is a pure
    // function of the doc key, so evaluating it over any subset yields the
    // same per-doc split. Compare the assignment expression over the full
    // corpus vs an arbitrary half.
    val split = org.apache.spark.sql.functions.when(
      graft.ops.Dsl.h60(concat(lit("split:"), $"doc_id".cast("string"))) % 100 < 80, "train")
      .when(graft.ops.Dsl.h60(concat(lit("split:"), $"doc_id".cast("string"))) % 100 < 90, "val")
      .otherwise("test")
    val docs = graft.tables.Tables.documents(spark, sf001)
    val full = docs.select($"doc_id", split.as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val half = docs.filter($"doc_id" % 2 === 0).select($"doc_id", split.as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(half.nonEmpty && half.forall { case (id, s) => full(id) == s })
  }

  test("q66 law: keeps = unclustered + one representative per q57 cluster; drops = the rest") {
    val verdicts = graft.queries.Dedup.q66(spark, sf001).collect()
    assert(verdicts.length == 500)
    val clusters = graft.queries.Dedup.q57(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    verdicts.foreach { r =>
      val (id, keep) = (r.getLong(0), r.getBoolean(2))
      clusters.get(id) match {
        case None => assert(keep, s"unclustered doc $id dropped")
        case Some(c) => assert(keep == (c == id), s"doc $id in cluster $c: keep=$keep")
      }
    }
    // exactly one kept doc per cluster
    val keptPerCluster = verdicts.filter(r => !r.isNullAt(1) && r.getBoolean(2))
      .groupBy(_.getLong(1)).view.mapValues(_.length)
    assert(keptPerCluster.values.forall(_ == 1))
  }

  test("q15-q17 law: |A ∪ B| == |A ∩ B| + |A \\ B| + |B \\ A| on generated id sets") {
    val setGen = Gen.listOfN(25, Gen.choose(1L, 30L)).map(_.toSet)
    for (seed <- 1 to Samples) {
      val a = draw(setGen, seed)
      val b = draw(setGen, seed + 1000)
      val da = a.toSeq.toDF("id")
      val db = b.toSeq.toDF("id")
      val union = da.union(db).distinct().count()
      val inter = da.intersect(db).count()
      val aOnly = da.except(db).count()
      val bOnly = db.except(da).count()
      assert(union == inter + aOnly + bOnly, s"seed=$seed")
      assert(inter == (a intersect b).size && union == (a union b).size, s"seed=$seed")
    }
  }

  test("ratio4 law: the engine expression == BigDecimal HALF_UP at scale 4 on random integer ratios") {
    // Dsl.ratio4's claim is exactly "ROUND(a/b, 4) as BigDecimal half-up,
    // computed portably" — check it against the JVM's definitional
    // implementation, INCLUDING forced exact-tie ratios (k/32 etc.), the
    // inputs where the two engines' double ROUNDs genuinely diverge (D6).
    val pairGen = for {
      b <- Gen.oneOf(Gen.choose(1L, 100000L), Gen.oneOf(2L, 16L, 32L, 20000L, 64L))
      a <- Gen.choose(0L, 5L * b) // ratios up to 5.0, including > 1
    } yield (a, b)
    val pairs = (1 to 60).map(seed => draw(pairGen, seed)) ++
      Seq((1L, 32L), (3L, 32L), (1L, 16L), (5L, 2L), (0L, 7L), (625L, 20000L))
    val df = pairs.toDF("a", "b")
      .select(graft.ops.Dsl.ratio4(col("a"), col("b")).as("r"))
    val got = df.collect().map(_.getDouble(0))
    val want = pairs.map { case (a, b) =>
      new java.math.BigDecimal(a).divide(
        new java.math.BigDecimal(b), 4, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    got.zip(want).zip(pairs).foreach { case ((g, w), p) =>
      assert(g == w, s"ratio4$p: got $g want $w")
    }
  }

  test("as-of law: the native exec == brute-force latest-match reference on random keyed streams") {
    val rowsGen = Gen.listOfN(60, for {
      k <- Gen.choose(1L, 6L)
      t <- Gen.choose(0L, 25L) // small range forces equal-ts collisions
    } yield (k, t))
    for (seed <- 1 to Samples) {
      val lRows = draw(rowsGen, seed).distinct
      val rRows = draw(rowsGen, seed + 500).distinct
      val l = lRows.toDF("k", "t")
      val r = rRows.toDF("k", "t")
      for (inclusive <- Seq(false, true)) {
        val got = graft.ops.AsOf.join(l, r, "k", "t", "t", Seq("t" -> "m"), inclusive)
          .collect()
          .map(row => (row.getLong(0), row.getLong(1)) ->
            (if (row.isNullAt(2)) None else Some(row.getLong(2)))).toMap
        val want = lRows.map { case (k, t) =>
          val ms = rRows.filter { case (rk, rt) =>
            rk == k && (rt < t || (inclusive && rt == t)) }
          (k, t) -> (if (ms.isEmpty) None else Some(ms.map(_._2).max))
        }.toMap
        assert(got == want, s"seed=$seed inclusive=$inclusive")
      }
    }
  }

  test("sketch-aggregate law: native MinHash/SimHash == per-group Scala reference on random groups") {
    import graft.queries.Dedup
    val grpGen = Gen.listOfN(50, for {
      d <- Gen.choose(1L, 8L)
      h <- Gen.choose(0L, Dedup.P - 1)
    } yield (d, h))
    for (seed <- 1 to Samples) {
      val rows = draw(grpGen, seed)
      val df = rows.toDF("doc_id", "hm")
      val mins = Dedup.signatures(df).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
      val wantMins = rows.groupBy(_._1).map { case (d, g) =>
        d -> (0 until Dedup.K).map(i =>
          g.map(x => (Dedup.aCoef(i) * x._2 + Dedup.bCoef(i)) % Dedup.P).min).toVector
      }
      assert(mins == wantMins, s"seed=$seed (minhash)")
      val fps = Dedup.simhashFingerprints(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val wantFps = rows.groupBy(_._1).map { case (d, g) =>
        d -> (0 until Dedup.SimBits).map { j =>
          val tally = g.map(x => if (((x._2 >>> j) & 1L) == 1L) 1L else -1L).sum
          if (tally > 0) 1L << j else 0L
        }.sum
      }
      assert(fps == wantFps, s"seed=$seed (simhash)")
    }
  }

  test("q94 law: distributed BPE merge learning == driver-side reference on random vocabularies") {
    import graft.queries.Tokenize
    // Small alphabet + short words force the hard cases: count ties
    // (resolved (a, b)-lexicographic), merged symbols re-merging in later
    // rounds ("aa" + "a"), and overlapping-run rewrites ("a a a a" ->
    // "aa aa", never "a aa a").
    val vocabGen = Gen.listOfN(12, for {
      len <- Gen.choose(1, 6)
      word <- Gen.listOfN(len, Gen.oneOf("a", "b", "c"))
      freq <- Gen.choose(1L, 9L)
    } yield (freq, word.toVector))
    def refBpe(vocab0: List[(Long, Vector[String])], m: Int): List[(Int, String, String, String, Long)] = {
      def applyMerge(seq: Vector[String], a: String, b: String): Vector[String] =
        seq.foldLeft(Vector.empty[String]) { (acc, s) =>
          if (acc.nonEmpty && acc.last == a && s == b) acc.init :+ (a + b)
          else acc :+ s
        }
      var v = vocab0
      val out = List.newBuilder[(Int, String, String, String, Long)]
      var r = 1
      var done = false
      while (r <= m && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
        for ((f, seq) <- v; i <- 0 until seq.length - 1)
          counts((seq(i), seq(i + 1))) += f
        if (counts.isEmpty) done = true
        else {
          val ((a, b), cnt) = counts.toList.minBy { case ((a, b), c) => (-c, a, b) }
          out += ((r, a, b, a + b, cnt))
          v = v.map { case (f, seq) => (f, applyMerge(seq, a, b)) }
          r += 1
        }
      }
      out.result()
    }
    for (seed <- 1 to Samples) {
      val vocab = draw(vocabGen, 9000 + seed)
      val df = vocab.toDF("freq", "seq")
      val got = graft.queries.Tokenize.learnMerges(spark, df, 8).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .toList
      val want = refBpe(vocab, 8)
      assert(got == want, s"seed=$seed")
      // argmax counts are monotone non-increasing: a merge only removes
      // occurrences of other pairs, and pairs it creates are bounded by
      // its own count — a later round can never beat an earlier one
      assert(got.map(_._5) == got.map(_._5).sortBy(-_), s"seed=$seed (monotone)")
      SparkEntry.clearGraftCaches(spark)
    }
    val _ = Tokenize.BpeMerges // the q94 constant is the production m
  }

  test("q93 law: fixed-round TextRank == convergence variant capped at the same round count") {
    // The tolerance-driven fixpoint (textRankConverged) shares q93's
    // per-round step, so with tol = 0 and the cap at TextRankIters its
    // final state must BE q93's state — and because each round's scores
    // are ROUND-6-quantized, an exact early fixpoint (delta == 0) makes
    // the remaining rounds no-ops, so the law holds whether or not the
    // loop runs all TextRankIters rounds. This is what lets the oracle-
    // checked fixed-round query certify the production iteration loop.
    import graft.queries.Text
    val fixed = SparkEntry.queries("q93_textrank")(spark, sf001).collect().toSeq
    val conv = Text.textRankConverged(spark, sf001,
      tol = 0.0, maxRounds = Text.TextRankIters).collect().toSeq
    assert(fixed == conv, "convergence variant diverged from the fixed-round query")
    SparkEntry.clearGraftCaches(spark)
  }

  test("q93 law: default-tolerance TextRank converges before the round cap and keeps the top-k set") {
    // The production setting must actually CONVERGE on the corpus (the
    // cap is an outage guard, not the expected exit) and the keyword SET
    // it reports must agree with the oracle-checked fixed-round query —
    // scores may differ in late decimals, membership may not.
    import graft.queries.Text
    val (convDf, rounds) = Text.textRankConvergedWithRounds(spark, sf001,
      tol = 1e-4, maxRounds = Text.TextRankMaxRounds)
    val conv = convDf.collect()
    assert(rounds < Text.TextRankMaxRounds,
      s"tolerance never fired: ran all $rounds rounds")
    val fixed = SparkEntry.queries("q93_textrank")(spark, sf001).collect()
    assert(conv.length == fixed.length)
    assert(conv.map(_.getString(0)).toSet == fixed.map(_.getString(0)).toSet,
      "converged top-k keyword set drifted from the fixed-round query")
    SparkEntry.clearGraftCaches(spark)
  }

  test("q96 law: streaming next-fit fold == composed HOF twin == driver reference on random shards") {
    import graft.queries.Pack
    val C = Pack.PackContext
    // Lengths cluster around the hard cases: exact fits (t == C), the
    // C/2 boundary (two docs exactly fill a bin), oversize-capped docs,
    // and tiny docs that pack many-per-bin.
    val docsGen = Gen.listOfN(60, for {
      id <- Gen.choose(0L, 100000L)
      t <- Gen.oneOf(Gen.choose(1L, C), Gen.const(C), Gen.const(C / 2),
        Gen.const(C / 2 + 1))
    } yield (id, t))
    def refNextFit(docs: List[(Long, Long, Long)]): List[(Long, Long, Long, Long)] =
      docs.groupBy(_._1).toList.flatMap { case (shard, ds) =>
        var fill = -1L; var bin = 0L
        ds.sortBy(_._2).map { case (_, d, t) =>
          if (fill < 0) { fill = t }
          else if (fill + t > C) { bin += 1; fill = t }
          else fill += t
          (shard, d, t, bin)
        }
      }.sortBy(r => (r._1, r._2))
    for (seed <- 1 to Samples) {
      val raw = draw(docsGen, 9600 + seed).distinctBy(_._1)
      val docs = raw.map { case (id, t) => (id % Pack.PackShards, id, t) }
      val df = docs.toDF("shard_id", "doc_id", "t")
      val fold = Pack.packAssignments(spark, df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(r => (r._1, r._2)).toList
      val hof = Pack.packComposedFrame(spark, df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(r => (r._1, r._2)).toList
      val want = refNextFit(docs)
      assert(fold == want, s"seed=$seed (fold vs reference)")
      assert(hof == want, s"seed=$seed (HOF twin vs reference)")
      // packing invariants: no bin overflows, every doc assigned exactly
      // once, and bin ids per shard are contiguous from 0
      val byBin = want.groupBy(r => (r._1, r._4))
      assert(byBin.values.forall(_.map(_._3).sum <= C), s"seed=$seed (overflow)")
      assert(want.map(_._2).distinct.length == docs.length, s"seed=$seed (coverage)")
      for ((shard, rows) <- want.groupBy(_._1)) {
        val bins = rows.map(_._4).distinct.sorted
        assert(bins == (0L until bins.length.toLong).toList, s"seed=$seed shard=$shard (gaps)")
      }
    }
    // and on the real corpus frame: the two forms agree row for row
    val real = Pack.docFrame(spark, sf001)
    val a = Pack.packAssignments(spark, real).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(r => (r._1, r._2))
    val b = Pack.packComposedFrame(spark, real).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(r => (r._1, r._2))
    assert(a.sameElements(b), "corpus: fold vs HOF twin drifted")
    SparkEntry.clearGraftCaches(spark)
  }

  test("q62 law: the windowed funnel == a strict-chain fold over ts-sorted events, null users and ties included") {
    // the reference: each user's events in ts order (input order within a
    // tie), one pass; a stage is set by the first event of its type
    // strictly after the previous stage, and a NULL user never gets past
    // signup (the equi-join chain's semantics)
    val order = Vector("signup", "view", "click", "purchase")
    def reference(rows: Seq[(Option[Long], String, Long)]) =
      rows.groupBy(_._1).toSeq.flatMap { case (user, evs) =>
        val stages = evs.sortBy(_._3).foldLeft(Vector.empty[Long]) { case (st, (_, tpe, t)) =>
          val k = st.length
          if (k < order.length && tpe == order(k) && (k == 0 || (user.nonEmpty && t > st.last)))
            st :+ t
          else st
        }
        if (stages.isEmpty) None
        else Some((user, (0 until 4).map(i => stages.lift(i)), stages.length))
      }.toSet
    val rowGen = Gen.listOf(for {
      user <- Gen.frequency(1 -> Gen.const(Option.empty[Long]), 5 -> Gen.choose(1L, 4L).map(Some(_)))
      tpe <- Gen.oneOf(order :+ "login" :+ "refund")
      t <- Gen.choose(0L, 8L) // small range forces ties
    } yield (user, tpe, t)).map(_.take(40))
    for (seed <- 1 to Samples) {
      val rows = draw(rowGen, 6200L + seed)
      val df = rows.map { case (u, tpe, t) => (u, tpe, new Timestamp(t * 1000)) }
        .toDF("user_id", "event_type", "ts")
      val got = graft.queries.Events.funnel(df).collect().map { r =>
        val stages = (1 to 4).map(i => Option(r.getTimestamp(i)).map(_.getTime / 1000))
        (Option(r.get(0)).map(_.asInstanceOf[Long]), stages, r.getInt(5))
      }
      assert(got.length == got.map(_._1).distinct.length, s"seed=$seed: a user got two rows")
      assert(got.toSet == reference(rows), s"seed=$seed rows=$rows")
    }
  }

  /** The DISC quantiles the kernel must reproduce, as (k, d). */
  private val DiscLevels = Seq((1, 2), (1, 4), (3, 4), (1, 5), (2, 5), (3, 5), (4, 5),
    (1, 10), (9, 10), (1, 20), (19, 20), (1, 40), (39, 40), (1, 1))

  test("DISC law: Dsl.cumHist + Dsl.disc == the plain DISC quantile per group, for every k/d") {
    import graft.ops.Dsl.{cumHist, disc}
    // per group: the smallest non-NULL v whose count through v (NULLs
    // first, every tied row included) reaches k/d of the group total
    def reference(rows: Seq[(Option[String], Option[Long], Long)]) =
      rows.groupBy(_._1).map { case (by, rs) =>
        val n = rs.map(_._3).sum
        val nulls = rs.filter(_._2.isEmpty).map(_._3).sum
        val values = rs.flatMap(_._2).distinct.sorted
        by -> DiscLevels.map { case (k, d) =>
          values.find(v => d * (nulls + rs.filter(_._2.exists(_ <= v)).map(_._3).sum) >= k * n)
        }
      }
    // a NULL group, NULL values, ties in v (a small range), and repeated
    // (by, v) rows that are never aggregated
    val rowGen = Gen.listOfN(40, for {
      by <- Gen.frequency(1 -> Gen.const(Option.empty[String]),
        6 -> Gen.oneOf("a", "b", "c").map(Some(_)))
      v <- Gen.frequency(1 -> Gen.const(Option.empty[Long]), 8 -> Gen.choose(-3L, 6L).map(Some(_)))
      cnt <- Gen.choose(1L, 4L)
    } yield (by, v, cnt))
    val outs = DiscLevels.map { case (k, d) => disc(col("v"), k, d).as(s"q${k}_$d") }
    for (seed <- 1 to Samples) {
      // plus a one-row group
      val rows = draw(rowGen, 7300L + seed) :+ ((Some("solo"), Some(5L), 3L))
      val got = cumHist(rows.toDF("by", "v", "cnt"), Seq(col("by")), col("v"), col("cnt"))
        .groupBy(col("by")).agg(outs.head, outs.tail: _*)
        .collect().map { r =>
          Option(r.getString(0)) -> (1 to DiscLevels.size).map(i => Option(r.get(i)).map(_.asInstanceOf[Long]))
        }.toMap
      assert(got == reference(rows), s"seed=$seed rows=$rows")
    }
  }

  test("DISC source law: no query or store writes the d·cum ≥ k·n threshold outside Dsl") {
    // the threshold multiplies a running count or a rank column; Dsl.disc
    // (under graft/ops) is its one statement
    val threshold = """col\("(cum|rk)"\)\s*\*""".r
    val found = Seq("queries", "streaming").flatMap { pkg =>
      val dir = new java.io.File(s"src/main/scala/graft/$pkg")
      val files = Option(dir.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".scala"))
      assert(files.length > 10, s"sources not found under ${dir.getAbsolutePath}")
      files.toSeq.flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val lines = try src.getLines().toVector finally src.close()
        lines.zipWithIndex.collect {
          case (l, i) if !l.trim.startsWith("*") && !l.trim.startsWith("//") &&
              threshold.findFirstIn(l.split(" //", 2)(0)).nonEmpty =>
            s"$pkg/${f.getName}:${i + 1}: ${l.trim}"
        }
      }
    }
    assert(found.isEmpty, s"DISC threshold written outside Dsl.disc:\n${found.mkString("\n")}")
  }
}
