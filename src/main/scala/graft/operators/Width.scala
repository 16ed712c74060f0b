package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The one width policy for work above a scan.
  *
  * Every testdata table scans as one parquet row group, so whatever runs
  * in the scan stage runs in one task. The engine answers that in three
  * ways, and every operator picks one of them:
  *
  *  - CPU-heavy per-row work above a byte-light scan is widened with
  *    [[spread]]: a keyed exchange at the session's
  *    `spark.sql.shuffle.partitions`. The count is explicit because AQE
  *    sizes an exchange by bytes and would coalesce this one back into
  *    one task.
  *  - A byte-light exchange under CPU work that everything downstream
  *    reads is spread too. `CrystalBall.normalize` is the site: its window
  *    input is the aggregated pair relation, a few MB, which AQE would fold
  *    into one task, and the window, the relation persisted from it and
  *    every stripe or sink stage reading that relation would inherit the
  *    one task. The spread takes the place of the window's own exchange.
  *    Unlike that exchange it is a logical node, so the optimizer cannot
  *    merge aggregates across it: a consumer that prunes the window away,
  *    such as a bare `count()` over `stripe_lookup`, still aggregates the
  *    distinct pairs below it.
  *  - Work above pruned bucketed reads (the IVF and serve paths) is never
  *    widened: the scan is already bucket-parallel and the exchange is
  *    pure overhead. A table bucketed on the key at the session width
  *    already satisfies [[spread]], so Spark plans no exchange for it; a
  *    table bucketed at another count gets one. Serve tables read through
  *    `CrystalBall.normalize` are therefore bucketed at the session width.
  *  - An exchange that carries every row gets no count, and AQE sizes it.
  *    `BasketSource.fromLineitem` is the example: `collect_list` reduces
  *    nothing on the map side, so its exchange is as wide as its bytes.
  *
  * Each site's choice and its timings are in OPTIMIZATION_r18.md.
  */
object Width {

  /** `df` hash-partitioned on `key` at the session's shuffle width. */
  def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col(key))
}
