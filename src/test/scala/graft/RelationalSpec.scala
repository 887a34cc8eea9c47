package graft

import graft.operators.{AuditDiff, Constraints, Relational}
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  private def base = Seq(
    (1L, Option("a"), Option(10.0)),
    (2L, Option("b"), None),
    (3L, None, Option(30.0))).toDF("id", "name", "score")

  test("merge: matched rows resolve per column, unmatched delta inserts, base passes through") {
    val delta = Seq(
      (2L, Option.empty[String], Option(99.0)), // update id=2: name null (coalesce keeps 'b')
      (9L, Option("new"), Option(1.0))).toDF("id", "name", "score")
    val out = Relational.merge(base, delta, Seq("id"),
      Map("score" -> Relational.Overwrite)).orderBy("id")
      .as[(Long, Option[String], Option[Double])].collect().toSeq
    assert(out == Seq(
      (1L, Some("a"), Some(10.0)),
      (2L, Some("b"), Some(99.0)),
      (3L, None, Some(30.0)),
      (9L, Some("new"), Some(1.0))))
  }

  test("merge: Overwrite propagates delta nulls; KeepOld ignores delta") {
    val delta = Seq((1L, Option.empty[String], Option(7.0))).toDF("id", "name", "score")
    val out = Relational.merge(base, delta, Seq("id"),
      Map("name" -> Relational.Overwrite, "score" -> Relational.KeepOld))
      .filter($"id" === 1).as[(Long, Option[String], Option[Double])].head()
    assert(out == ((1L, None, Some(10.0))))
  }

  test("merge is idempotent: applying the same delta twice is a no-op") {
    val delta = Seq((2L, Option("b2"), Option(5.0)), (9L, Option("n"), None))
      .toDF("id", "name", "score")
    val once = Relational.merge(base, delta, Seq("id"))
    val twice = Relational.merge(once, delta, Seq("id"))
    assert(once.orderBy("id").collect().toSeq == twice.orderBy("id").collect().toSeq)
  }

  test("dedupByKey: null keys all survive, non-null keep first by tiebreak") {
    val df = Seq((1L, Option("k")), (2L, Option("k")), (3L, None),
      (4L, None), (5L, Option("j"))).toDF("id", "k")
    val out = Relational.dedupByKey(df, "k", Seq($"id".asc))
      .orderBy("id").as[(Long, Option[String])].collect().toSeq
    assert(out == Seq((1L, Some("k")), (3L, None), (4L, None), (5L, Some("j"))))
  }

  /** Whether `df` plans to a rows-in-the-plan local relation (the
    * driver path's result) rather than a distributed scan.
    */
  private def local(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Runs `action` and returns what it launched: the number of jobs and
    * the bytes its tasks sent back to the driver, read after the listener
    * bus is drained.
    */
  private def traffic(action: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.resultSize))
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try { action; ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(listener)
    (jobs.get, bytes.get)
  }

  test("allocateIds: dense, ordered, starting after max") {
    val out = Relational.allocateIds(Seq("c", "a", "b").toDF("name"), "name", 100L)
      .as[(Long, String)].collect().toSeq.sorted
    assert(out == Seq((101L, "a"), (102L, "b"), (103L, "c")))
  }

  test("allocateIds: the driver path equals the distributed path (budget 0)") {
    def ids(df: DataFrame) =
      df.as[(Long, Option[String])].collect().toSeq.sortBy(_._1)
    val cases = Seq(
      ("startAfter > 0", Seq(Option("c"), Option("a"), Option("b")), 100L,
        Seq(101L -> "a", 102L -> "b", 103L -> "c")),
      ("empty input", Seq.empty[Option[String]], 7L, Nil),
      ("a null key sorts first", Seq(Option("b"), None, Option("a")), 0L,
        Seq(1L -> null, 2L -> "a", 3L -> "b")),
      // UTF-8 byte order: U+FF21 (EF BC A1) before U+1D49C (F0 9D 92 9C);
      // String.compareTo puts the surrogate pair (D835 DC9C) first
      ("UTF-8 order, not UTF-16", Seq(Option("𝒜"), Option("Ａ"), Option("z")), 0L,
        Seq(1L -> "z", 2L -> "Ａ", 3L -> "𝒜")))
    for ((label, names, start, want) <- cases) {
      val df = names.toDF("name")
      val fast = Relational.allocateIds(df, "name", start)
      val dist = Relational.allocateIds(df, "name", start, driverBudget = 0L)
      val over = Relational.allocateIds(df, "name", start, driverBudget = 1L)
      assert(local(fast) && !local(dist), label)
      assert(ids(fast) == want.map { case (i, n) => (i, Option(n)) }, label)
      assert(ids(dist) == ids(fast), label)
      // over a 1-byte budget the probe gives up and the distributed path
      // numbers
      if (names.nonEmpty) assert(!local(over) && ids(over) == ids(fast), label)
    }
  }

  test("allocateIds: the probe returns at most its byte budget, whatever the partition count") {
    // 8 partitions × 200 rows × ~2 KB = ~3.2 MB against a 256 KiB budget:
    // every task passes its share and ships only its size, so the call
    // falls back; what returns to the driver is the tasks' metrics and
    // the fallback's range-sort sample of the small key
    val df = spark.range(0, 1600, 1, 8)
      .select((($"id" * 7919) % 1600).as("k"), repeat(lit("x"), 2000).as("payload"))
    val budget = 256L << 10
    var over: DataFrame = null
    val (_, returned) = traffic {
      over = Relational.allocateIds(df, "k", 0L, driverBudget = budget)
    }
    assert(!local(over))
    assert(returned < budget + 32 * (16L << 10), s"$returned bytes returned")
    val dist = Relational.allocateIds(df, "k", 0L, driverBudget = 0L)
    def ids(d: DataFrame) = d.select("id", "k").as[(Long, Long)].collect().toSeq.sorted
    val want = ids(dist)
    assert(want == (0L until 1600L).map(k => (k + 1, k)))
    assert(ids(over) == want)
    // within budget the same rows come back as a local relation
    val fits = Relational.allocateIds(df, "k", 0L, driverBudget = 64L << 20)
    assert(local(fits) && ids(fits) == want)
  }

  test("allocateIds: an uneven split within budget is fetched in a second job") {
    // partition 0 holds 100 rows of ~1 KB, the seven others one row each:
    // partition 0 passes its eighth of the 256 KiB budget, the total fits
    val df = spark.range(0, 800, 1, 8)
      .filter($"id" < 100 || $"id" % 100 === 0)
      .select($"id".as("k"), repeat(lit("y"), 1000).as("payload"))
    val budget = 256L << 10
    var fast: DataFrame = null
    val (jobs, returned) = traffic {
      fast = Relational.allocateIds(df, "k", 10L, driverBudget = budget)
    }
    assert(local(fast))
    assert(jobs == 2, s"$jobs jobs")
    assert(returned < budget + 16 * (16L << 10), s"$returned bytes returned")
    val want = Relational.allocateIds(df, "k", 10L, driverBudget = 0L)
    def ids(d: DataFrame) = d.select("id", "k").as[(Long, Long)].collect().toSeq.sorted
    assert(ids(fast) == ids(want))
    assert(ids(fast).map(_._1) == (11L to 117L))
  }

  test("maxId: a local relation is read on the driver, equal to the aggregate") {
    val rows = Seq(Option(3L), None, Option(9L), Option(4L)).toDF("id")
    val (jobs, _) = traffic(assert(Relational.maxId(rows) == 9L))
    assert(jobs == 0)
    assert(Relational.maxId(rows.repartition(2)) == 9L)
    val empty = rows.filter($"id" > 100L)
    assert(traffic(assert(Relational.maxId(empty) == 0L))._1 == 0)
    assert(Relational.maxId(empty.repartition(2)) == 0L)
  }

  test("upsertDim: only unseen names get new ids; existing rows unchanged") {
    val dim = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val incoming = Seq("b", "c", "c", "d").toDF("name")
    val out = Relational.upsertDim(dim, incoming, "name")
      .as[(Long, String)].collect().toSeq.sorted
    assert(out == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    val dist = Relational.upsertDim(dim, incoming, "name", driverBudget = 0L)
    assert(dist.as[(Long, String)].collect().toSeq.sorted == out)
  }

  test("upsertDim is idempotent") {
    val dim = Seq((1L, "a")).toDF("id", "name")
    val incoming = Seq("a", "b").toDF("name")
    val once = Relational.upsertDim(dim, incoming, "name")
    val twice = Relational.upsertDim(once, incoming, "name")
    assert(once.orderBy("id").collect().toSeq == twice.orderBy("id").collect().toSeq)
  }

  test("topKPerGroup keeps k rows per group in order") {
    val df = Seq(("g1", 3), ("g1", 1), ("g1", 2), ("g2", 9)).toDF("g", "v")
    val out = Relational.topKPerGroup(df, Seq($"g"), Seq($"v".desc), 2)
      .select("g", "v").as[(String, Int)].collect().toSet
    assert(out == Set(("g1", 3), ("g1", 2), ("g2", 9)))
  }

  test("auditDiff classifies insert/update/delete and serializes JSON") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val nw = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "v")
    val out = AuditDiff.diff(old, nw, "id", "t", clock = lit("2026-01-01 00:00:00").cast("timestamp"))
    val rows = out.select($"operation", $"pk".cast("long"), $"old_values", $"new_values")
      .as[(String, Long, Option[String], Option[String])].collect().toSet
    assert(rows == Set(
      ("UPDATE", 2L, Some("""{"id":2,"v":"b"}"""), Some("""{"id":2,"v":"B"}""")),
      ("DELETE", 3L, Some("""{"id":3,"v":"c"}"""), None),
      ("INSERT", 4L, None, Some("""{"id":4,"v":"d"}"""))))
  }

  test("constraints: unique counts excess non-null dups; pk adds null keys; fk counts orphans") {
    val df = Seq(Option(1), Option(1), Option(1), Option(2), None, None).toDF("k")
    assert(Constraints.unique(df, Seq("k"), "u").select("violations").as[Long].head() == 2L)
    assert(Constraints.primaryKey(df, Seq("k"), "pk").select("violations").as[Long].head() == 4L)
    val parent = Seq(1, 2).toDF("pid")
    val child = Seq(Option(1), Option(3), None).toDF("k")
    assert(Constraints.foreignKey(child, "k", parent, "pid", "fk")
      .select("violations").as[Long].head() == 1L)
  }
}
