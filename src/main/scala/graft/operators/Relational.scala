package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Set-based re-expressions of the reference's row-at-a-time upsert /
  * dedup / surrogate-key / audit patterns (SURVEY.md §2.4 A1-A4, §2.10 C1).
  *
  * Scale notes: every operator here is a constant number of shuffles on the
  * key columns; when the delta/dim side is small Catalyst broadcast-joins it
  * automatically (we avoid full-outer joins for merge precisely so the small
  * side stays broadcastable). The one driver-side step is id allocation's
  * bounded collect ([[allocateIds]]): a new-row set within its byte budget
  * is numbered on the driver, a larger one takes the distributed sort.
  */
object Relational {

  /** Per-column conflict resolution for [[merge]] — mirrors the reference's
    * `ON CONFLICT (title) DO UPDATE SET` clause shapes
    * (process_publications_dag.py:224-232).
    */
  sealed trait Resolve
  /** `col = EXCLUDED.col` — new value wins even when null. */
  case object Overwrite extends Resolve
  /** `col = COALESCE(EXCLUDED.col, old.col)` — new wins unless null. */
  case object CoalesceNewOld extends Resolve
  /** keep the existing value for matched rows. */
  case object KeepOld extends Resolve

  /** MERGE / upsert: rows of `delta` matching `base` on `keys` update the
    * base row per `resolve` (default CoalesceNewOld); unmatched delta rows
    * insert; unmatched base rows pass through.
    *
    * Implemented as base⟕delta + delta-anti-base union — NOT a full outer
    * join — so a small delta is broadcast on both sides (two broadcast
    * joins, zero extra shuffles at scale).
    *
    * Preconditions: `delta` has at most one row per key (dedup first — the
    * reference gets this for free from its per-row loop); both frames share
    * the schema.
    */
  def merge(
      base: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      resolve: Map[String, Resolve] = Map.empty): DataFrame = {
    val valueCols = base.columns.filterNot(keys.contains).toSeq
    val d = delta
      .select(delta.columns.toSeq.map(c =>
        if (keys.contains(c)) col(c) else col(c).as(s"__new_$c")): _*)
      .withColumn("__matched", lit(true))
    val isMatched = col("__matched").isNotNull // null ⇔ no delta row joined
    val resolved = base.join(d, keys, "left").select(
      (keys.map(col) ++ valueCols.map { c =>
        val nw = col(s"__new_$c")
        val old = col(c)
        (resolve.getOrElse(c, CoalesceNewOld) match {
          case Overwrite      => when(isMatched, nw).otherwise(old)
          case CoalesceNewOld => coalesce(nw, old)
          case KeepOld        => old
        }).as(c)
      }): _*)
    val inserts = delta.join(base.select(keys.map(col): _*), keys, "left_anti")
    resolved.unionByName(inserts.select(base.columns.toSeq.map(col): _*))
  }

  /** Key-dedup with SQL UNIQUE-constraint null semantics: rows with a null
    * key are all kept (nulls compare distinct — the reference's
    * `ON CONFLICT (doi) DO NOTHING` never fires for null doi,
    * process_publications_dag.py:67); non-null keys keep exactly the first
    * row under `tiebreak` (deterministic representative).
    */
  def dedupByKey(df: DataFrame, key: String, tiebreak: Seq[Column]): DataFrame = {
    val keyed = df.filter(col(key).isNotNull)
    val nullKeyed = df.filter(col(key).isNull)
    val w = Window.partitionBy(col(key)).orderBy(tiebreak: _*)
    keyed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .unionByName(nullKeyed)
  }

  /** Default byte budget of [[allocateIds]]' driver path: the most the
    * collect may return to the driver, where the numbered rows are then
    * held in the plan and shipped with every scan of them. Sized from the
    * arXiv op (ingest, clean, citations, reports; 4 cores): numbering every
    * allocation on the driver made the op 16% faster at 2,000 records, 12%
    * at 4,000 and 21% at 6,000, whose publications collect is about 4.4 MB
    * (about 0.75 KB a record), and 13% slower at 8,000 (5.9 MB), each the
    * median of seven warm rounds. 4 MiB takes the driver path up to about
    * 5,400 records.
    */
  val DriverIdBudget: Long = 4L << 20

  /** SERIAL-compatible surrogate-key allocation (SURVEY §2.4 A3): assign
    * dense ids `startAfter+1 .. startAfter+n` to `newValues` ordered by
    * `orderCol` ascending, nulls first. Ids are deterministic when
    * `orderCol` is unique; ties take either order. Two paths give the same
    * ids:
    *  - driver: one job (two for an uneven split) collects `newValues` if
    *    its rows fit `driverBudget` bytes (see [[collectWithin]]); the
    *    driver sorts them with Spark's own ordering (strings in UTF-8 byte
    *    order) and numbers them, and the result is a local relation, which
    *    consumers broadcast or fold over without a job.
    *  - distributed (over budget, or `driverBudget = 0`): global sort
    *    (range partitioned) + `zipWithIndex`, no single-partition window.
    *    It reads the RDD the probe ran, so the upstream shuffles are not
    *    recomputed; an over-budget input pays the probe's one extra job.
    * `monotonically_increasing_id` is neither dense nor stable and is
    * deliberately not used.
    */
  def allocateIds(
      newValues: DataFrame,
      orderCol: String,
      startAfter: Long,
      idCol: String = "id",
      driverBudget: Long = DriverIdBudget): DataFrame = {
    val spark = newValues.sparkSession
    val in = newValues.schema
    val schema = StructType(StructField(idCol, LongType, nullable = false) +: in.fields)
    val toRow = CatalystTypeConverters.createToScalaConverter(in)
    val rdd = newValues.queryExecution.toRdd
    collectWithin(rdd, in, driverBudget) match {
      case Some(rows) =>
        val at = in.fieldIndex(orderCol)
        val ordering = new InterpretedOrdering(
          Seq(SortOrder(BoundReference(at, in(at).dataType, nullable = true), Ascending)))
        val numbered = rows.sorted(ordering).iterator.zipWithIndex.map { case (r, i) =>
          Row.fromSeq((startAfter + i + 1) +: toRow(r).asInstanceOf[Row].toSeq)
        }
        spark.createDataFrame(numbered.toSeq.asJava, schema)
      case None =>
        val sorted = spark.createDataFrame(rdd.map(toRow(_).asInstanceOf[Row]), in)
          .orderBy(col(orderCol))
        val rows = sorted.rdd.zipWithIndex().map { case (r, i) =>
          Row.fromSeq((startAfter + i + 1) +: r.toSeq)
        }
        spark.createDataFrame(rows, schema)
    }
  }

  /** `rdd`'s rows if they take at most `budget` bytes in all, else None
    * (and None without a job when `budget` ≤ 0). The first job's n tasks
    * each ship their partition's rows if these fit an even share,
    * budget / n bytes, and otherwise only their size. When the sizes add
    * up to at most `budget`, a second job fetches the partitions that
    * shipped no rows (an uneven split, as a batch's null-key rows in one
    * partition make). What returns to the driver stays within `budget`
    * whatever the input's size or partition count.
    */
  private[graft] def collectWithin(rdd: RDD[InternalRow], schema: StructType,
      budget: Long): Option[Array[UnsafeRow]] = {
    val n = rdd.getNumPartitions
    if (budget <= 0) return None
    val sc = rdd.sparkContext
    val first = sc.runJob(rdd, rowsWithin(schema, budget / math.max(n, 1), budget) _)
    val bytes = first.map(_.fold(identity, _.map(_.getSizeInBytes.toLong).sum)).sum
    if (bytes > budget) return None
    val uneven = first.indices.filter(first(_).isLeft)
    val rest = if (uneven.isEmpty) Array.empty[Either[Long, Array[UnsafeRow]]]
      else sc.runJob(rdd, rowsWithin(schema, budget, budget) _, uneven)
    val parts = first.filter(_.isRight) ++ rest
    if (parts.forall(_.isRight)) Some(parts.flatMap(_.toOption.get)) else None
  }

  /** `df`'s rows if they take at most `budget` bytes as `UnsafeRow`s,
    * else None (always None when `budget` ≤ 0). A frame that plans to a
    * local relation ([[localRows]]) is measured on the driver without a
    * job; any other runs one bounded collect ([[collectWithin]]).
    */
  private[graft] def driverRows(df: DataFrame, budget: Long): Option[Seq[InternalRow]] =
    if (budget <= 0) None
    else localRows(df) match {
      case Some(rows) =>
        val toUnsafe = UnsafeProjection.create(df.schema)
        Some(rows).filter(_.iterator.map(toUnsafe(_).getSizeInBytes.toLong).sum <= budget)
      case None => collectWithin(df.queryExecution.toRdd, df.schema, budget).map(_.toSeq)
    }

  /** A local relation of `rows` under `schema`, nullability kept. */
  private[graft] def localFrame(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[InternalRow], schema: StructType): DataFrame = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    spark.createDataFrame(rows.map(toRow(_).asInstanceOf[Row]).asJava, schema)
  }

  /** One partition's rows as `UnsafeRow`s if they take at most `keep`
    * bytes; else Left of their size, counted until it passes `count`.
    */
  private def rowsWithin(schema: StructType, keep: Long, count: Long)(
      it: Iterator[InternalRow]): Either[Long, Array[UnsafeRow]] = {
    val toUnsafe = UnsafeProjection.create(schema)
    val kept = ArrayBuffer.empty[UnsafeRow]
    var bytes = 0L
    while (bytes <= count && it.hasNext) {
      val r = toUnsafe(it.next())
      bytes += r.getSizeInBytes
      if (bytes <= keep) kept += r.copy()
    }
    if (bytes <= keep) Right(kept.toArray) else Left(bytes)
  }

  /** The largest `idCol` value in `df`, 0 when it is empty (the position
    * of a SERIAL sequence). A frame that plans to a local relation is read
    * on the driver without a job; any other runs one aggregate.
    */
  def maxId(df: DataFrame, idCol: String = "id"): Long = {
    val at = df.schema.fieldIndex(idCol)
    localRows(df) match {
      case Some(rows) if df.schema(at).dataType == LongType =>
        rows.iterator.filterNot(_.isNullAt(at)).map(_.getLong(at)).maxOption.getOrElse(0L)
      case _ =>
        df.agg(coalesce(max(col(idCol)), lit(0L)).cast(LongType)).head().getLong(0)
    }
  }

  /** The rows of `df` when it plans to a local relation (its rows are held
    * in the plan on the driver), else None. Planned afresh, so `df`'s own
    * query execution stays unplanned and still picks up a later `cache()`.
    */
  def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    df.sparkSession.sessionState.executePlan(df.queryExecution.logical)
      .optimizedPlan match {
        case l: LocalRelation => Some(l.data)
        case _ => None
      }

  /** Dimension upsert (the set-based `get_or_insert_*`,
    * process_publications_dag.py:27-43): add unseen `nameCol` values from
    * `incoming` to `dim` with fresh dense ids; returns the updated dim.
    */
  def upsertDim(dim: DataFrame, incoming: DataFrame, nameCol: String,
      idCol: String = "id", driverBudget: Long = DriverIdBudget): DataFrame = {
    val fresh = incoming.select(col(nameCol)).distinct()
      .join(dim.select(col(nameCol)), Seq(nameCol), "left_anti")
    dim.unionByName(allocateIds(fresh, nameCol, maxId(dim, idCol), idCol, driverBudget)
      .select(dim.columns.toSeq.map(col): _*))
  }

  /** Per-group top-k (SURVEY §2.5 W1): one shuffle, ranking window. */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column],
      order: Seq[Column], k: Int, rankName: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(order: _*)
    df.withColumn(rankName, row_number().over(w)).filter(col(rankName) <= k)
  }

  /** 2-D Pareto frontier (skyline), both dimensions MAXIMIZED: keep the
    * rows no other row dominates, where p dominates q iff p.x ≥ q.x,
    * p.y ≥ q.y, and at least one is strict. Identical (x, y) duplicates
    * don't dominate each other, so ties on the frontier all survive.
    *
    * Sort-based, NOT the quadratic NOT-EXISTS: per-x max(y), then a
    * running max of that over x DESCENDING — a frontier x is one whose
    * ymax strictly exceeds every ymax at larger x, and within a
    * frontier x only the y = ymax rows are undominated. One keyed
    * aggregation plus one window over the DISTINCT-x relation (the
    * single-partition sort is |distinct x| rows, not |rows| — for an
    * ultra-high-cardinality x, range-tile the x axis and merge tile
    * frontiers, the same tiling idea as [[Intervals]]).
    */
  def paretoFrontier2(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val byX = df.groupBy(col(xCol)).agg(max(col(yCol)).as("__ymax"))
    val wDesc = Window.orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontierX = byX
      .withColumn("__prevmax", max(col("__ymax")).over(wDesc))
      .filter(col("__prevmax").isNull || col("__ymax") > col("__prevmax"))
      .select(col(xCol), col("__ymax"))
    df.join(broadcast(frontierX), Seq(xCol))
      .filter(col(yCol) === col("__ymax"))
      .drop("__ymax")
  }
}
