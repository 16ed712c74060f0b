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
  *  - Work above pruned bucketed reads (the IVF and serve paths) is never
  *    widened: the scan is already bucket-parallel and the exchange is
  *    pure overhead.
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
