package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Debug

/** One driver-verifiable operator: a Spark implementation plus (when
  * SQL-expressible) an equivalent DuckDB oracle run on the same parquet
  * tables. Column names/types must line up exactly — the driver sorts
  * columns by name and hash-compares values.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String,
            fn: (SparkSession, String) => DataFrame,
            oracle: String): QueryDef =
    QueryDef(name, fn, Some(oracle))
}

/** A `ConcurrentHashMap`-shaped memo whose builds report their
  * one-time seconds to the [[Debug.warm]] ledger, self-time
  * attributed: memo builds compose (the persisted-PQ build calls the PQ
  * build), and each second lands under exactly one memo name. Bench
  * empties the ledger before its untimed warmup and emits it as the
  * `warm` field of bench_full.json, so memoization cannot silently move
  * cost out of the timed rows. Drop-in for the registries' memo maps:
  * same `computeIfAbsent(key, fn)` call shape, String keys. A memo
  * rebuilt per (session, dir) accumulates under its name.
  */
final class Memo[V](name: String) {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, V]()
  def computeIfAbsent(key: String, f: String => V): V =
    m.computeIfAbsent(key, k => Debug.timed(Debug.warm, name)(f(k)))
}
