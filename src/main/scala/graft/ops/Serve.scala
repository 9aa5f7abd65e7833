package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Serving surface (SURVEY §2.6, S12): deterministic pagination and top-k
  * over the gold output, plus the Mongo-shaped `_id` projection (P9,
  * tomongo.py:10).
  *
  * Scale notes: `ORDER BY … LIMIT k` is planned by Spark as TakeOrderedAndProject
  * — per-partition top-k then a single driver merge of k×partitions rows; no
  * global sort. offset+limit pagination performs a global sort only of the
  * first offset+limit rows per partition — fine for serving pages, not for
  * deep offsets (at deep offsets use keyset pagination: filter key > last).
  */
object Serve {

  /** S12: paginated scan — made deterministic with an explicit total order
    * (the reference paginates Mongo natural order, route.ts:9-15; we order
    * explicitly, SURVEY §2.6).
    */
  def page(df: DataFrame, order: Seq[Column], pageNo: Int, pageSize: Int): DataFrame =
    df.orderBy(order: _*).offset((pageNo - 1) * pageSize).limit(pageSize)

  /** Keyset (seek) pagination — the deep-page plan (VERDICT r7 #4): the
    * caller passes the last key of the previous page and the engine
    * filters `key > after` before taking the next `n` rows, instead of
    * sorting and DISCARDING the whole offset prefix. The predicate is on
    * the group key, so Catalyst pushes it below the aggregate to the
    * scan (PushedFilters on the parquet read) — page cost is O(page),
    * independent of how deep the page is, where the offset form's cost
    * grows with offset × partitions. The reference pages Mongo with
    * skip/limit (route.ts:9-17); this is the shape that survives 100×.
    */
  def keyset(df: DataFrame, key: Column, after: Column, n: Int): DataFrame =
    df.filter(key > after).orderBy(key).limit(n)

  /** [[keyset]] for a COMPOSITE (two-column) page key, seeking rows with
    * `(k1, k2)` lexicographically after `(a1, a2)`. Spelled as
    * `k1 >= a1 AND (k1 > a1 OR k2 > a2)` rather than a struct compare:
    * the leading-key bound is a plain conjunct Catalyst can push below
    * aggregates to the scan, so a deep page still prunes on the leading
    * key — the shape `serve_analytics_keyset` pages with.
    */
  def keyset2(df: DataFrame, k1: Column, k2: Column,
              a1: Column, a2: Column, n: Int): DataFrame =
    df.filter(k1 >= a1 && (k1 > a1 || k2 > a2))
      .orderBy(k1, k2).limit(n)

  /** Top-k — planned as TakeOrderedAndProject, no full sort. */
  def topK(df: DataFrame, order: Seq[Column], k: Int): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** P9: the Mongo document projection — `_id` = group key. */
  def withDocId(df: DataFrame, keyCol: String): DataFrame =
    df.withColumn("_id", col(keyCol))
}
