package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** The benchmark/materialization ACTION shared by [[Bench]], [[Diag]]
  * and [[MatCheck]]: forces EVERY output column of
  * every row.
  *
  * `count()` is NOT a benchmark action — Catalyst prunes all
  * unreferenced projection columns beneath it, so a pure-projection
  * query benches as a parquet row count, and a per-row error in a
  * pruned column (an ANSI divide-by-zero, say) never fires: round 8
  * shipped a query whose per-row math crashed at sf0.1 while its bench
  * row stayed green. Summing a hash of every column defeats pruning —
  * each cell feeds the hash, each hash feeds the aggregate — so the
  * timed work is the query's real work and any per-row exception
  * surfaces. The extra cost is one codegen'd murmur3 pass plus a
  * map-side-combined scalar agg: negligible against real plans, and
  * paid identically by every query.
  *
  * Returns (rowCount, checksum). The checksum is additionally the
  * MATCHECK gate value: order-insensitive across rows (a sum), covering
  * every cell. Map-typed columns are canonicalized to key-sorted entry
  * arrays before hashing — Spark's `hash` over a raw map is entry-order
  * sensitive, and map entry order is an artifact of aggregation order,
  * so two runs of the same query could otherwise checksum differently
  * and a regenerated MATCHECK artifact would diff spuriously. Sorting
  * `map_entries` by key (keys are unique, so the struct comparison
  * never reaches the value) makes the hash a function of the map's
  * CONTENTS. Only top-level map columns need this: no registry query
  * emits a map nested inside a struct/array (the k2/MLReady family is
  * flat map columns), and the legacy-hash escape hatch stays off so a
  * future nested map fails loudly here instead of hashing unstably.
  */
object BenchAction {
  private def canonical(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _          => col(f.name)
      }
    }

  /** The one-row (n, h) frame [[consume]] collects; `graft.Diag phases`
    * reads its QueryExecution's phase timings. */
  def action(df: DataFrame): DataFrame =
    df.select(count(lit(1)).as("n"), sum(hash(canonical(df): _*).cast("long")).as("h"))

  def consume(df: DataFrame): (Long, Long) = {
    val row = action(df).collect()(0)
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }
}
