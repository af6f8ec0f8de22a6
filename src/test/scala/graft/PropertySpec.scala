package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Events

/** Property-based checks on randomly generated inputs — semantics that
  * the fixed-dataset oracle can't probe (boundary gaps, ties, single-
  * event users, adversarial timestamps).
  */
class PropertySpec extends SparkSpec {

  /** Draw `n` samples from a generator with fixed seeds (scalatestplus
    * is not in the offline dependency cache, so sampling is manual).
    */
  private def forSamples[A](gen: Gen[A], n: Int = 5)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen.apply(Gen.Parameters.default.withSize(60), Seed(i.toLong))
        .foreach(body)
    }

  private val gapMs = 30L * 60 * 1000

  private val eventsGen: Gen[List[(Long, Long, Double)]] =
    Gen.listOf(for {
      user <- Gen.choose(0L, 4L)
      ts   <- Gen.choose(0L, 6L * gapMs)
      v    <- Gen.choose(0, 1000).map(_ / 10.0)
    } yield (user, ts, v))

  test("sessionize: sessions partition events; boundaries respect the gap") {
    forSamples(eventsGen) { rows =>
      if (rows.nonEmpty) {
        import spark.implicits._
        val ev = rows.toDF("user_id", "ts_ms", "value")
        val sessions = Events.sessionizeDf(ev, gapMs).collect()
        // partition: every event accounted for exactly once
        assert(sessions.map(_.getAs[Long]("n_events")).sum == rows.size)
        // per user: sessions ordered, separated by > gap, non-overlapping
        sessions.groupBy(_.getAs[Long]("user_id")).foreach { case (_, ss) =>
          val sorted = ss.sortBy(_.getAs[Long]("session_idx"))
          sorted.foreach(s => assert(
            s.getAs[Long]("session_start_ms") <= s.getAs[Long]("session_end_ms")))
          sorted.sliding(2).foreach {
            case Array(a, b) =>
              assert(b.getAs[Long]("session_start_ms") - a.getAs[Long]("session_end_ms") > gapMs)
            case _ =>
          }
        }
        // within-session max gap <= gapMs: recompute from raw events
        val byUser = rows.groupBy(_._1)
        byUser.foreach { case (u, evs) =>
          val ts = evs.map(_._2).sorted
          val expectedSessions = 1 + ts.sliding(2).count {
            case Seq(a, b) => b - a > gapMs
            case _ => false
          }
          val got = sessions.count(_.getAs[Long]("user_id") == u)
          assert(got == expectedSessions, s"user $u: $got vs $expectedSessions")
        }
      }
    }
  }

  private val asofGen: Gen[List[(Long, Long, Long, String)]] =
    Gen.listOf(for {
      id   <- Gen.choose(0L, 100000L)
      user <- Gen.choose(0L, 3L)
      ts   <- Gen.choose(0L, 1000L)
      tpe  <- Gen.oneOf("view", "purchase", "click")
    } yield (id, user, ts, tpe)).map(_.distinctBy(_._1))

  test("asof join: matches the latest prior-or-equal view, per purchase") {
    forSamples(asofGen) { rows =>
      if (rows.nonEmpty) {
        import spark.implicits._
        val ev = rows.toDF("event_id", "user_id", "ts_ms", "event_type")
          .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms")
        val got = Events.asofJoinDf(ev).collect()
          .map(r => (r.getAs[Long]("purchase_event_id"), Option(r.getAs[java.lang.Long]("view_event_id")).map(_.toLong)))
          .toMap
        val views = rows.filter(_._4 == "view")
        val purchases = rows.filter(_._4 == "purchase")
        assert(got.size == purchases.size)
        purchases.foreach { case (pid, user, pts, _) =>
          val eligible = views.filter(v => v._2 == user && v._3 <= pts)
          val expected = if (eligible.isEmpty) None
            else {
              val maxTs = eligible.map(_._3).max
              Some(eligible.filter(_._3 == maxTs).map(_._1).max) // ties: max event_id
            }
          assert(got(pid) == expected, s"purchase $pid: ${got(pid)} vs $expected")
        }
      }
    }
  }

  test("jaccard_sorted equals the set-based jaccard on random token arrays") {
    import spark.implicits._
    functions.Sketches.register(spark)
    // tokens include multi-byte and mixed-case strings: guards that
    // array_sort's ordering matches UTF8String.compareTo inside the
    // two-pointer merge
    val tokGen = Gen.listOfN(25, Gen.oneOf(
      Gen.choose(0, 50).map("tok" + _),
      Gen.oneOf("Ā", "ß", "日本", "Zz", "a b", "")))
    forSamples(Gen.zip(tokGen, tokGen)) { case (a, b) =>
      val df = Seq((a.distinct, b.distinct)).toDF("a", "b")
        .selectExpr(
          "jaccard_sorted(array_sort(a), array_sort(b)) AS fast",
          "size(array_intersect(a, b)) / cast(size(array_union(a, b)) as double) AS ref")
      val r = df.head
      assert(r.getDouble(0) == r.getDouble(1), s"$a vs $b")
    }
  }

  test("dot_d equals the fold-based dot product bit for bit") {
    import spark.implicits._
    functions.Sketches.register(spark)
    val vecGen = Gen.listOfN(16, Gen.choose(-1000, 1000).map(_ / 7.0))
    forSamples(Gen.zip(vecGen, vecGen)) { case (a, b) =>
      val r = Seq((a, b)).toDF("a", "b").selectExpr(
        "dot_d(a, b) AS fast",
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x) AS ref").head
      assert(r.getDouble(0) == r.getDouble(1))
    }
  }

  test("lake log: random op sequences agree with an in-memory model, at every version") {
    import spark.implicits._
    import graft.lake.LakeTable

    // one op = (kind, payload); the model is id -> (part, value)
    sealed trait Op
    case class Append(rows: Map[Long, Double]) extends Op
    case class Overwrite(rows: Map[Long, Double]) extends Op
    case class Merge(rows: Map[Long, Double]) extends Op
    case class Delete(below: Double) extends Op
    case class Update(atLeast: Double) extends Op
    case class MergeMor(rows: Map[Long, Double]) extends Op
    case class DeleteMor(below: Double) extends Op
    case class UpdateMor(atLeast: Double) extends Op
    case object Compact extends Op
    case class CompactClustered(zorder: Boolean) extends Op
    case class Restore(frac: Double) extends Op // index into history, as a fraction

    def rowsGen(ids: Gen[Long]): Gen[Map[Long, Double]] =
      Gen.nonEmptyMap(Gen.zip(ids, Gen.choose(0, 1000).map(_.toDouble)))
    val opGen: Gen[Op] = Gen.frequency(
      4 -> rowsGen(Gen.choose(0L, 40L)).map(Append(_)),
      1 -> rowsGen(Gen.choose(0L, 40L)).map(Overwrite(_)),
      4 -> rowsGen(Gen.choose(0L, 40L)).map(Merge(_)),
      2 -> Gen.choose(0, 1000).map(x => Delete(x.toDouble)),
      2 -> Gen.choose(0, 1000).map(x => Update(x.toDouble)),
      2 -> rowsGen(Gen.choose(0L, 40L)).map(MergeMor(_)),
      1 -> Gen.choose(0, 1000).map(x => DeleteMor(x.toDouble)),
      1 -> Gen.choose(0, 1000).map(x => UpdateMor(x.toDouble)),
      1 -> Gen.const(Compact),
      1 -> Gen.oneOf(true, false).map(CompactClustered(_)),
      1 -> Gen.choose(0.0, 1.0).map(Restore(_)))
    val seqGen: Gen[List[Op]] = for {
      first <- rowsGen(Gen.choose(0L, 40L))
      rest  <- Gen.listOfN(9, opGen)
    } yield Overwrite(first) :: rest

    def part(id: Long): String = s"p${id % 2}"
    def toDf(m: Map[Long, Double]) =
      m.toSeq.map { case (id, v) => (id, part(id), v) }.toDF("id", "part", "v")

    forSamples(seqGen, n = 3) { ops =>
      val t = java.nio.file.Files.createTempDirectory("prop_lake").toString + "/t"
      var model = Map.empty[Long, Double]
      val history = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[Long, Double])]
      ops.foreach { op =>
        op match {
          case Overwrite(rows) =>
            LakeTable.overwrite(spark, t, toDf(rows), partitionBy = Seq("part"))
            model = rows
          case Append(rows) =>
            val fresh = rows -- model.keys // append has no key semantics
            if (fresh.nonEmpty) LakeTable.append(spark, t, toDf(fresh))
            model = model ++ fresh
          case Merge(rows) =>
            LakeTable.merge(spark, t, toDf(rows), keys = Seq("id"))
            model = model ++ rows
          case Delete(below) =>
            LakeTable.delete(spark, t, col("v") < below)
            model = model.filterNot { case (_, v) => v < below }
          case Update(atLeast) =>
            LakeTable.update(spark, t, Seq("v" -> (col("v") + 10000)), col("v") >= atLeast)
            model = model.map { case (id, v) => id -> (if (v >= atLeast) v + 10000 else v) }
          case MergeMor(rows) =>
            LakeTable.mergeMergeOnRead(spark, t, toDf(rows), keys = Seq("id"))
            model = model ++ rows
          case DeleteMor(below) =>
            LakeTable.deleteMergeOnRead(spark, t, col("v") < below)
            model = model.filterNot { case (_, v) => v < below }
          case UpdateMor(atLeast) =>
            LakeTable.updateMergeOnRead(spark, t, Seq("v" -> (col("v") + 10000)),
              col("v") >= atLeast)
            model = model.map { case (id, v) => id -> (if (v >= atLeast) v + 10000 else v) }
          case Compact =>
            LakeTable.compact(spark, t, smallFileBytes = 1L << 20)
          case CompactClustered(z) =>
            if (z) LakeTable.compact(spark, t, smallFileBytes = 1L << 20,
              zorderBy = Seq("id", "v"), targetFileBytes = 4L << 10)
            else LakeTable.compact(spark, t, smallFileBytes = 1L << 20,
              sortBy = Seq("v"), targetFileBytes = 4L << 10)
          case Restore(frac) if history.nonEmpty =>
            val idx = math.min(history.size - 1, (frac * history.size).toInt)
            val (v, m) = history(idx)
            LakeTable.restore(spark, t, v)
            model = m
          case Restore(_) => () // nothing committed yet
        }
        val got = LakeTable.read(spark, t).select("id", "part", "v")
          .as[(Long, String, Double)].collect()
        val want = model.map { case (id, v) => (id, part(id), v) }.toSet
        assert(got.length == got.toSet.size, s"duplicate rows after $op")
        assert(got.toSet == want, s"state diverged after $op")
        history += ((LakeTable.latestSnapshot(spark, t).get.version, model))
      }
      // time travel to every recorded version reproduces the model then —
      // both with the snapshot checkpoints present and after deleting them
      // (pure delta replay)
      def checkHistory(): Unit = history.foreach { case (v, m) =>
        val got = LakeTable.read(spark, t, asOf = Some(v))
          .select("id", "v").as[(Long, Double)].collect().toMap
        assert(got == m, s"time travel to v$v diverged")
      }
      checkHistory()
      val logDir = java.nio.file.Paths.get(s"$t/_graft_log")
      java.nio.file.Files.list(logDir).iterator().forEachRemaining { p =>
        if (p.getFileName.toString.endsWith(".checkpoint.json"))
          java.nio.file.Files.delete(p)
      }
      checkHistory()
    }
  }

  test("minhash estimate approximates exact jaccard on random token sets") {
    import spark.implicits._
    functions.Sketches.register(spark)
    val gen = for {
      base   <- Gen.listOfN(30, Gen.choose(0, 40)).map(_.distinct)
      other  <- Gen.listOfN(30, Gen.choose(0, 40)).map(_.distinct)
    } yield (base.map("t" + _), other.map("t" + _))
    forSamples(gen) { case (a, b) =>
      if (a.nonEmpty && b.nonEmpty) {
        val df = Seq((1L, a), (2L, b)).toDF("id", "toks")
          .withColumn("sig", expr("minhash_sig(transform(toks, t -> xxhash64(t)), 64)"))
        val sigs = df.orderBy("id").select("sig").collect()
          .map(_.getSeq[Long](0))
        val est = sigs(0).zip(sigs(1)).count { case (x, y) => x == y } / 64.0
        val exact = a.toSet.intersect(b.toSet).size.toDouble / a.toSet.union(b.toSet).size
        assert(math.abs(est - exact) <= 0.35, s"est $est exact $exact")
      }
    }
  }

  private def writeEmbeddings(rows: List[List[Float]]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_annprop").toString
    rows.zipWithIndex
      .map { case (v, i) => (i.toLong, v, i % 3) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("ann_quant and ann_ivf equal brute force on adversarial corpora") {
    // the exactness claims are PROOFS (error-bounded candidate rule /
    // angular bound probing), so they must survive inputs the driver
    // data never has: a NEAR-zero query and corpus vector (tiny norms
    // blow the relative error bounds wide open — many candidates, still
    // exact), an exact duplicate pair and a corpus row duplicating a
    // query (cosine-1 ties broken by vec_id), negative components, an
    // anti-aligned pair (negative dequantized dots)
    val gen = for {
      dim  <- Gen.choose(3, 6)
      n    <- Gen.choose(14, 32)
      rows <- Gen.listOfN(n, Gen.listOfN(dim, Gen.choose(-100, 100).map(_ / 25.0f)))
    } yield {
      val forced = rows.toArray
      forced(1) = forced(0)                            // duplicate query pair
      forced(2) = List.fill(dim)(1e-4f)                // near-zero QUERY (q_id 2)
      forced(3) = forced(0)                            // corpus dup of a query
      forced(4) = forced(0).map(-_)                    // anti-aligned partner
      forced(forced.length - 1) = List.fill(dim)(-1e-4f) // near-zero corpus row
      forced.toList
    }
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"),
        // compare cosine via its bits (exact-equality across paths)
        java.lang.Double.doubleToLongBits(r.getAs[Double]("cosine")),
        r.getAs[Long]("rank"))).toSet
    forSamples(gen, n = 4) { rows =>
      val dir = writeEmbeddings(rows)
      val exact = canon(operators.Similarity.annTopk(spark, dir, numQueries = 3, k = 4))
      val quant = canon(operators.Similarity.annQuant(spark, dir, numQueries = 3, k = 4))
      assert(quant == exact,
        s"ann_quant missing=${exact.diff(quant).take(5)} extra=${quant.diff(exact).take(5)}")
      val ivf = canon(operators.Similarity.annIvf(spark, dir,
        numQueries = 3, k = 4, cells = 4, probes = 1))
      assert(ivf == exact,
        s"ann_ivf missing=${exact.diff(ivf).take(5)} extra=${ivf.diff(exact).take(5)}")
      // subspaces=1 (any dim divides) with a starved codebook: the
      // loosest possible PQ — bounds blow wide, the superset grows,
      // the result must STILL equal brute force
      val pq = canon(operators.Similarity.annPq(spark, dir,
        numQueries = 3, k = 4, subspaces = 1, codebookSize = 2))
      assert(pq == exact,
        s"ann_pq missing=${exact.diff(pq).take(5)} extra=${pq.diff(exact).take(5)}")
      // the composition under the worst geometry for BOTH bounds:
      // 1 probe forces the angular phase 2, the starved codebook blows
      // the residual bound wide — exactness must survive the stack
      val ivfpq = canon(operators.Similarity.annIvfPq(spark, dir,
        numQueries = 3, k = 4, cells = 4, probes = 1,
        subspaces = 1, codebookSize = 2))
      assert(ivfpq == exact,
        s"ann_ivfpq missing=${exact.diff(ivfpq).take(5)} extra=${ivfpq.diff(exact).take(5)}")
      // the persisted indexes carry the same proofs across a build on
      // the even vec_ids and an append of the odd ones: a starved
      // codebook, a single IVF-PQ probe (phase 2 over merged radii) and
      // an all-cells IVF probe
      val even = Some(col("vec_id") % 2 === 0)
      val odd = graft.Tables.embeddings(spark, dir).filter(col("vec_id") % 2 === 1)
      operators.Similarity.buildPqIndex(spark, dir, s"$dir/pq",
        subspaces = 1, codebookSize = 2, only = even)
      operators.Similarity.pqAppend(spark, s"$dir/pq", odd)
      val pqIdx = canon(operators.Similarity.annPqIndexed(spark, dir, s"$dir/pq",
        numQueries = 3, k = 4))
      assert(pqIdx == exact,
        s"persisted pq missing=${exact.diff(pqIdx).take(5)} extra=${pqIdx.diff(exact).take(5)}")
      operators.Similarity.buildIvfPqIndex(spark, dir, s"$dir/ivfpq",
        cells = 4, subspaces = 1, codebookSize = 2, only = even)
      operators.Similarity.ivfPqAppend(spark, s"$dir/ivfpq", odd)
      val ivfpqIdx = canon(operators.Similarity.annIvfPqIndexed(spark, dir, s"$dir/ivfpq",
        numQueries = 3, k = 4, probes = 1))
      assert(ivfpqIdx == exact, s"persisted ivfpq missing=${exact.diff(ivfpqIdx).take(5)} " +
        s"extra=${ivfpqIdx.diff(exact).take(5)}")
      operators.Similarity.buildIvfIndex(spark, dir, s"$dir/ivf", cells = 4, only = even)
      operators.Similarity.ivfAppend(spark, s"$dir/ivf", odd)
      val ivfIdx = canon(operators.Similarity.annIvfIndexed(spark, dir, s"$dir/ivf",
        numQueries = 3, k = 4, probes = 4))
      assert(ivfIdx == exact,
        s"persisted ivf missing=${exact.diff(ivfIdx).take(5)} extra=${ivfIdx.diff(exact).take(5)}")
    }
  }

  test("sketch function args validate loudly: BIGINT literals coerce, junk is named") {
    graft.functions.Sketches.register(spark)
    import spark.implicits._
    Seq(Seq(1.0, 2.0)).toDF("v").createOrReplaceTempView("pq_args_v")
    val cb = "array(0.0D, 0.0D, 1.0D, 2.0D)" // dim 2, m=1, k=2
    def chain(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ::: chain(t.getCause)
    def failsWith(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(chain(e).exists(_.contains(needle)),
        s"expected an error mentioning '$needle', got ${chain(e).mkString(" | ")}")
    }
    // a BIGINT literal (the `8L` a user naturally writes) coerces
    // instead of throwing an opaque ClassCastException
    assert(spark.sql("SELECT pq_encode(v, " + cb +
      ", CAST(1 AS BIGINT), CAST(2 AS BIGINT)).resid AS r FROM pq_args_v")
      .collect().length == 1)
    // non-foldable / null / fractional args are refused by name
    failsWith(s"SELECT pq_encode(v, $cb, CAST(size(v) AS INT), 2) FROM pq_args_v",
      "must be a literal")
    failsWith(s"SELECT pq_encode(v, $cb, CAST(NULL AS INT), 2) FROM pq_args_v",
      "must not be null")
    failsWith(s"SELECT pq_lut(v, $cb, 1.5, 2) FROM pq_args_v",
      "must be an integer literal")
    failsWith("SELECT minhash_sig(array('a'), CAST(id AS INT)) FROM range(1)",
      "must be a literal")
    // pq_adc geometry mismatches fail instead of silently indexing
    // wrong lut slots: non-divisible lut, then an exhaustive-fold check
    failsWith("SELECT pq_adc(X'0001', array(0.0D, 1.0D, 2.0D))",
      "different geometry")
    failsWith("SELECT pq_adc(X'05', array(0.0D, 1.0D, 2.0D, 3.0D))",
      "larger codebook")
    // well-formed geometry still scores: codes (1,0) over k=2 luts
    val s = spark.sql("SELECT pq_adc(X'0100', array(0.0D, 1.0D, 2.0D, 3.0D)) AS s")
      .collect().head.getDouble(0)
    assert(s == 1.0 + 2.0)
    // the CODEGEN path (non-foldable codes column — literals constant-
    // fold through the interpreted path) enforces the same geometry:
    // a mismatch must throw, never silently read wrong lut slots
    Seq(Array[Byte](5), Array[Byte](1)).toDF("c").createOrReplaceTempView("pq_adc_c")
    failsWith("SELECT pq_adc(c, array(0.0D, 1.0D, 2.0D, 3.0D)) FROM pq_adc_c",
      "larger codebook")
    Seq(Array[Byte](0, 1)).toDF("c").createOrReplaceTempView("pq_adc_c2")
    failsWith("SELECT pq_adc(c, array(0.0D, 1.0D, 2.0D)) FROM pq_adc_c2",
      "different geometry")
    assert(spark.sql(
      "SELECT sum(pq_adc(c, array(0.0D, 7.0D))) FROM pq_adc_c WHERE c = X'01'")
      .head.getDouble(0) == 7.0)
  }

  test("the cosine tier refuses zero-norm vectors loudly (ANSI division by zero)") {
    // cosine is undefined for a zero vector: the contract is a loud
    // ANSI divide-by-zero from EVERY path (baseline and accelerated),
    // never a silent NaN row or a quietly dropped neighbor
    val base = List.fill(10)(List(1.0f, 2.0f, -1.0f))
      .zipWithIndex.map { case (v, i) => v.map(x => x + i * 0.1f) }
    val dir = writeEmbeddings(base :+ List(0.0f, 0.0f, 0.0f))
    def refuses(body: => Unit): Unit = {
      val e = intercept[Exception](body)
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      assert(chain(e).exists(_.getMessage != null)
        && chain(e).exists(t => Option(t.getMessage).exists(_.contains("DIVIDE_BY_ZERO"))),
        s"expected DIVIDE_BY_ZERO, got $e")
    }
    refuses(operators.Similarity.annTopk(spark, dir, numQueries = 2, k = 3).collect())
    refuses(operators.Similarity.annQuant(spark, dir, numQueries = 2, k = 3).collect())
    refuses(operators.Similarity.annPq(spark, dir,
      numQueries = 2, k = 3, subspaces = 1, codebookSize = 2).collect())
    refuses(operators.Similarity.annIvf(spark, dir,
      numQueries = 2, k = 3, cells = 2, probes = 1).collect())
  }
}
