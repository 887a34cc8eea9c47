package graft

import graft.operators.Relational
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY §5): upsert idempotence, UNIQUE-null dedup
  * semantics, and F8 branch-order fidelity under generated inputs.
  * ScalaCheck generators driven by a fixed seed sweep (the scalatestplus
  * bridge isn't on the offline classpath); each case round-trips through
  * real Spark plans, so rounds stay modest.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAll[A](g: Gen[A], rounds: Int = 10)(check: A => Unit): Unit = {
    var seed = Seed(42L)
    var done = 0
    var tries = 0
    while (done < rounds && tries < rounds * 20) {
      g.apply(Gen.Parameters.default, seed).foreach { a => check(a); done += 1 }
      seed = seed.next
      tries += 1
    }
    assert(done == rounds, s"generator produced only $done/$rounds cases")
  }

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], rounds: Int = 10)(
      check: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb), rounds) { case (a, b) => check(a, b) }

  private val row = for {
    id <- Gen.choose(1L, 20L)
    name <- Gen.option(Gen.alphaStr.map(_.take(5)))
    score <- Gen.option(Gen.choose(-100.0, 100.0))
  } yield (id, name, score)

  private val frame = Gen.listOfN(12, row)

  test("hotColdJoin ≡ plain join for any token stream and hot threshold") {
    val tokRows = Gen.listOfN(60,
      Gen.zip(Gen.choose(1L, 10L), Gen.oneOf("a", "b", "c", "d", "e", "th")))
    forAll2(tokRows, Gen.choose(1L, 30L), rounds = 6) { (rows, thr) =>
      val stream = rows.toDF("doc_id", "tok")
      val tf = stream.groupBy($"tok").agg(count(lit(1)).as("ctf"))
      val plain = stream.join(tf, "tok").select($"doc_id", $"tok", $"ctf")
        .as[(Long, String, Long)].collect().sorted.toSeq
      val split = graft.operators.Skew
        .hotColdJoin(stream, tf, "tok", isHot = $"ctf" >= thr)
        .select($"doc_id", $"tok", $"ctf")
        .as[(Long, String, Long)].collect().sorted.toSeq
      assert(split == plain, s"differs at threshold $thr")
    }
  }

  test("merge is idempotent for any base/delta (same keys merged once or twice agree)") {
    forAll2(frame, frame) { (baseRows, deltaRows) =>
      val base = baseRows.toDF("id", "name", "score").dropDuplicates("id")
      val delta = deltaRows.toDF("id", "name", "score").dropDuplicates("id")
      val once = Relational.merge(base, delta, Seq("id"))
      val twice = Relational.merge(once, delta, Seq("id"))
      assert(once.orderBy("id").collect().toSeq == twice.orderBy("id").collect().toSeq)
    }
  }

  test("merge result has exactly the union of keys") {
    forAll2(frame, frame) { (baseRows, deltaRows) =>
      val base = baseRows.toDF("id", "name", "score").dropDuplicates("id")
      val delta = deltaRows.toDF("id", "name", "score").dropDuplicates("id")
      val merged = Relational.merge(base, delta, Seq("id"))
      val expected = (baseRows.map(_._1) ++ deltaRows.map(_._1)).toSet
      assert(merged.select("id").as[Long].collect().toSet == expected)
      assert(merged.count() == expected.size)
    }
  }

  test("dedupByKey: output nulls = input nulls; non-null keys unique; subset of input") {
    forAll(frame) { rows =>
      val df = rows.toDF("id", "name", "score")
      val out = Relational.dedupByKey(df, "name", Seq($"id".asc, $"score".asc))
      val inputNulls = rows.count(_._2.isEmpty)
      assert(out.filter($"name".isNull).count() == inputNulls)
      val keys = out.filter($"name".isNotNull).select("name").as[String].collect()
      assert(keys.length == keys.distinct.length)
      val inSet = df.collect().map(_.toString).toSet
      assert(out.collect().map(_.toString).forall(inSet.contains))
    }
  }

  test("allocateIds: dense, unique, stable under re-allocation") {
    forAll2(Gen.listOf(Gen.alphaNumStr.map(_.take(8))), Gen.choose(0L, 1000L)) {
      (names, start) =>
        val df = names.distinct.toDF("name")
        val out = Relational.allocateIds(df, "name", start)
        val ids = out.select("id").as[Long].collect().sorted
        assert(ids.toSeq == (start + 1 to start + names.distinct.size))
        val again = Relational.allocateIds(df, "name", start)
        assert(out.orderBy("id").collect().toSeq == again.orderBy("id").collect().toSeq)
    }
  }

  test("allocateIds: the driver path numbers like the distributed sort") {
    // glyphs whose UTF-16 and UTF-8 orders disagree (a surrogate pair vs
    // U+FF21), plus a null key, which sorts first
    val glyph = Gen.oneOf("a", "Z", "é", "Ａ", "𝒜", "0")
    val name = Gen.frequency(1 -> Gen.const(Option.empty[String]),
      8 -> Gen.listOf(glyph).map(g => Option(g.take(4).mkString)))
    forAll2(Gen.listOf(name), Gen.choose(0L, 1000L)) { (names, start) =>
      val df = names.distinct.toDF("name")
      val fast = Relational.allocateIds(df, "name", start)
      val dist = Relational.allocateIds(df, "name", start, driverBudget = 0L)
      assert(fast.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      assert(!dist.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      assert(fast.orderBy("id").collect().toSeq == dist.orderBy("id").collect().toSeq)
    }
  }

  test("F8 branch order: earlier contains-branch always wins") {
    val bibGen = Gen.oneOf(
      "@article{x}", "@thesis{x}", "@phdthesis{x}", "@mastersthesis{x}",
      "@book{x}", "@inbook{x}", "@misc{x}", "nothing")
    forAll(Gen.listOfN(8, bibGen)) { bibs =>
      val out = bibs.toDF("bib")
        .select(graft.arxiv.Transforms.extractPublicationType($"bib").as("t"))
        .as[Option[String]].collect().toSeq
      // note: '@phdthesis' does NOT contain '@thesis' as a substring (the
      // '@' breaks it), so every branch of the reference chain is reachable
      val expected = bibs.map {
        case "@article{x}" => Some("Journal Article")
        case "@thesis{x}" => Some("Thesis")
        case "@phdthesis{x}" => Some("PhD Thesis")
        case "@mastersthesis{x}" => Some("Masters Thesis")
        case "@book{x}" => Some("Book")
        case "@inbook{x}" => Some("Book Chapter")
        case "@misc{x}" => Some("Miscellaneous")
        case _ => None
      }
      assert(out == expected)
    }
  }

  test("property: joinAsOf equals the brute-force most-recent-prior lookup") {
    val eventGen = for {
      n <- Gen.choose(5, 25)
      rows <- Gen.listOfN(n, for {
        user <- Gen.choose(1L, 4L)
        ts <- Gen.choose(0L, 20L) // small range → frequent ts collisions
        v <- Gen.choose(0L, 99L)
      } yield (user, ts, v))
    } yield rows.zipWithIndex.map { case ((u, t, v), i) => (i.toLong, u, t, v) }
    forAll2(eventGen, eventGen, rounds = 8) { (leftRows, rightRows) =>
      val left = leftRows.toDF("event_id", "user_id", "ts_sec", "value_cents")
      val right = rightRows.toDF("event_id", "user_id", "ts_sec", "value_cents")
      val got = graft.operators.AsOf
        .joinAsOf(left, right, Seq("user_id"), "ts_sec",
          Seq("value_cents"), "event_id")
        .select($"event_id", $"asof_event_id", $"asof_value_cents")
        .as[(Long, Option[Long], Option[Long])].collect()
        .map { case (k, a, b) => k -> ((a, b)) }.toMap
      val expected = leftRows.map { case (id, u, t, _) =>
        // latest right.ts <= t for the user; ties → highest right event_id
        val best = rightRows
          .filter(r => r._2 == u && r._3 <= t)
          .sortBy(r => (r._3, r._1)).lastOption
        id -> ((best.map(_._1), best.map(_._4)))
      }.toMap
      assert(got == expected)
    }
  }

  test("joinAsOf excludes null timestamps from both sides") {
    // right row 30 has null ts: under Spark's NULLS FIRST it would act as
    // ts = -infinity and match every left row — the contract excludes it.
    // left row 3 has null ts: "as of unknown time" is undefined — dropped.
    val left = Seq(
      (1L, 1L, Option(10L)), (2L, 1L, Option(5L)), (3L, 1L, Option.empty[Long]))
      .toDF("event_id", "user_id", "ts_sec")
    val right = Seq(
      (10L, 1L, Option(8L), 100L), (30L, 1L, Option.empty[Long], 999L))
      .toDF("event_id", "user_id", "ts_sec", "value_cents")
    val got = graft.operators.AsOf
      .joinAsOf(left, right, Seq("user_id"), "ts_sec",
        Seq("value_cents"), "event_id")
      .select($"event_id", $"asof_event_id", $"asof_value_cents")
      .as[(Long, Option[Long], Option[Long])].collect().toSet
    assert(got == Set(
      (1L, Some(10L), Some(100L)), // ts 10 ≥ 8 → matches the real click
      (2L, None, None)))           // ts 5 < 8, null-ts right NOT a match
  }

  test("pointInInterval ≡ reference containment for random inputs and tile widths") {
    val pts = Gen.listOfN(15, for {
      key <- Gen.choose(1L, 3L)
      t <- Gen.choose(0L, 500L)
    } yield (key, t))
    val ivs = Gen.listOfN(8, for {
      key <- Gen.choose(1L, 3L)
      a <- Gen.choose(0L, 450L)
      span <- Gen.choose(0L, 120L)
    } yield (key, a, a + span))
    val width = Gen.oneOf(1L, 3L, 50L, 1000L)
    forAll(Gen.zip(pts, ivs, width), rounds = 8) { case (ps, is, w) =>
      val pdf = ps.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("pid", "key", "t")
      val idf = is.zipWithIndex.map { case ((k, a, b), i) => (100L + i, k, a, b) }
        .toDF("iid", "key", "a", "b")
      val got = graft.operators.Intervals
        .pointInInterval(pdf, idf, Seq("key"), "t", "a", "b", w)
        .select($"pid", $"iid").as[(Long, Long)].collect().toSeq
      assert(got.size == got.toSet.size, s"duplicates at W=$w")
      val want = (for {
        ((k, t), i) <- ps.zipWithIndex
        ((k2, a, b), j) <- is.zipWithIndex
        if k == k2 && t >= a && t <= b
      } yield (i.toLong, 100L + j)).toSet
      assert(got.toSet == want, s"W=$w")
    }
  }
}
