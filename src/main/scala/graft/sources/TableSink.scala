package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Engine-native table sinks for the 100 TB layout story (SURVEY.md §2.1
  * lists partitioned/bucketed tables as absent from the reference; at
  * scale they are how shuffles get designed OUT of the pipeline):
  *
  *  - partitioned parquet → partition pruning: filters on the partition
  *    column never touch non-matching files;
  *  - bucketed tables → co-located joins: two tables bucketed by the same
  *    key into the same bucket count sort-merge-join with NO exchange on
  *    either side (the per-bucket layout replaces the shuffle).
  *
  * Both are asserted at the plan level in TableSinkSpec.
  */
object TableSink {

  /** Hive-style partitioned layout: one directory per partition value.
    * `format` is any batch file format Spark ships (parquet default; orc
    * for ORC-consuming downstreams — same pruning behavior, asserted for
    * both in TableSinkSpec).
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String], format: String = "parquet"): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*)
      .format(format).save(path)

  /** Bucketed + sorted table (requires the session catalog — bucket
    * metadata lives in the metastore). `nBuckets` must match across
    * tables intended for co-located joins.
    *
    * A fresh in-memory catalog doesn't know about managed-table
    * directories a previous session left in the warehouse, and refuses to
    * create over them (LOCATION_ALREADY_EXISTS) — drop both the catalog
    * entry and any orphaned location first.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit = {
    dropWithLocation(df.sparkSession, table)
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Drop `table` from the catalog AND delete any orphaned managed
    * location a previous session left in the warehouse — the shared
    * pre-write step of every saveAsTable sink here (a fresh in-memory
    * catalog refuses to create over a leftover directory). Supports bare
    * and db-qualified names.
    */
  private def dropWithLocation(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val (_, quoted) = variant(table)
    spark.sql(s"DROP TABLE IF EXISTS $quoted")
    val parts = table.split('.')
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val relative = parts match {
      case Array(db, tbl) => s"${db.toLowerCase}.db/${tbl.toLowerCase}"
      case _              => parts.last.toLowerCase
    }
    val loc = new org.apache.hadoop.fs.Path(warehouse, relative)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** `table` with `suffix` appended to its last name part, bare and
    * backtick-quoted per part: `variant("db.t", "_x")` is
    * `("db.t_x", "`db`.`t_x`")`.
    */
  private def variant(table: String, suffix: String = ""): (String, String) = {
    val parts = table.split('.')
    val name = (parts.dropRight(1) :+ (parts.last + suffix)).mkString(".")
    (name, name.split('.').map(p => s"`$p`").mkString("."))
  }

  /** Plain (unbucketed) managed-table overwrite with the same
    * orphaned-location hygiene as [[writeBucketed]] — the stable
    * RESULT-materialization sink for queries whose staging files are
    * deleted before the caller consumes the result (the streaming
    * compositions): unlike a `.cache()` keyed on a per-invocation temp
    * path, an overwritten table neither grows the persist set per call
    * nor dies with the stage directory.
    */
  def saveTable(df: DataFrame, table: String): Unit = {
    dropWithLocation(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** Append a delta into an EXISTING bucketed table created by
    * [[writeBucketed]] — the INSERT half of the build-once/probe-many
    * discipline: the delta arrives under the SAME bucket spec (Spark
    * rejects a mismatched one), so each bucket gains a new file
    * generation, bucket-wise reads stay shuffle-free, and the base is
    * never rebuilt. The only cost is the delta's own bucket shuffle —
    * O(|delta|), independent of the base size, which is exactly the
    * 100 TB ingest contract.
    */
  def appendBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit =
    df.write.mode("append")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** OPTIMIZE-style compaction of a bucketed table: every
    * [[appendBucketed]] generation adds one file set per bucket, so a
    * long-lived ingest table accumulates small files until scan task
    * count (and open-file overhead) is generation-bound instead of
    * data-bound — the classic small-file problem every 100 TB lake table
    * hits. This verb rewrites ALL generations into exactly ONE file per
    * bucket and swaps the result in atomically at the catalog level:
    *
    *  1. read the table and `repartition(nBuckets, bucketCol)` — Spark's
    *     bucket id function IS the repartition hash (pmod(murmur3, n)),
    *     so each shuffle partition holds exactly one bucket's rows and
    *     the bucketed write emits ONE file per bucket (without the
    *     alignment, every task writes a file for every bucket it sees —
    *     the very fragmentation being compacted);
    *  2. write it as a fresh bucketed table under a scratch name (same
    *     bucket spec — co-located join plans are unchanged);
    *  3. swap at the catalog level by RENAMING ASIDE: original →
    *     `_precompact`, scratch → original, drop `_precompact`. Readers
    *     see old generations or the compacted set — never a
    *     half-compacted table — and a crash at ANY step leaves a
    *     complete copy of the data under a resolvable name (the
    *     original, `_precompact`, or `_compacting`). The swap is NOT
    *     atomic: between the two renames there is a brief window where
    *     the original name does not resolve (two metadata statements —
    *     no engine-portable single-statement swap exists in plain Spark
    *     SQL); a concurrent reader in that window fails fast rather
    *     than reading partial data, and recovery after a crash there is
    *     one rename of whichever complete copy survives.
    *
    * Cost: one full read + one bucket-aligned shuffle + one write —
    * O(|table|), amortized across the generations it absorbs; serving
    * reads after compaction are bit-identical (spec-pinned in
    * TableSinkSpec) because bucket membership and per-file sort follow
    * the same spec the generations already satisfied.
    */
  def compactBucketed(spark: SparkSession, table: String, bucketCol: String,
      nBuckets: Int): Unit = {
    require(nBuckets >= 1, "compactBucketed: nBuckets must be >= 1")
    val (_, quoted) = variant(table)
    val (scratch, scratchQuoted) = variant(table, "_compacting")
    recoverCompaction(spark, table)
    // read the generations as PLAIN parquet (inputFiles), not through the
    // bucketed-table scan: the scan advertises HashPartitioning and the
    // planner then elides the repartition — but its file-group partitions
    // mix buckets across generations, so the "aligned" write fragments
    // (observed: 9 files for 4 buckets). A plain file read has no claimed
    // partitioning, the repartition genuinely shuffles, and task i holds
    // exactly bucket i.
    val src = spark.table(table)
    val files = src.inputFiles.toIndexedSeq
    // a generation-less (empty) table has nothing to pack — and
    // spark.read.parquet() with zero paths is an error, not an empty scan
    if (files.isEmpty) return
    val aligned = spark.read.schema(src.schema)
      .parquet(files: _*)
      .repartition(nBuckets, col(bucketCol))
    writeBucketed(aligned, scratch, bucketCol, nBuckets)
    // rename-aside swap (see step 3 of the scaladoc): the generations
    // stay resolvable under _precompact until the compacted set is
    // installed — a crash between the renames strands NO data (old copy
    // under _precompact, new under _compacting), unlike DROP-then-RENAME
    // where the drop destroys the only copy before the scratch lands
    val (_, oldQuoted) = variant(table, "_precompact")
    spark.sql(s"DROP TABLE IF EXISTS $oldQuoted") // stale crash leftover
    spark.sql(s"ALTER TABLE $quoted RENAME TO $oldQuoted")
    spark.sql(s"ALTER TABLE $scratchQuoted RENAME TO $quoted")
    spark.sql(s"DROP TABLE $oldQuoted")
  }

  /** Crash recovery for [[compactBucketed]]'s rename-aside swap, run
    * automatically on entry (the r12 advice: the documented manual
    * recovery step is now automated). The serving name fails to resolve
    * only in the window between the two renames — at which point BOTH
    * copies are complete (`_precompact` holds the old generations,
    * `_compacting` the compacted set, written before the swap began).
    * Recovery installs the compacted copy if it survived, else renames
    * the old copy back, then drops the superseded leftover. A stale
    * `_compacting` while the serving table EXISTS (crash during the
    * scratch write — possibly incomplete) needs no action here: the
    * next compaction's [[writeBucketed]] overwrites it.
    */
  private def recoverCompaction(spark: SparkSession, table: String): Unit = {
    val (_, quoted) = variant(table)
    val (old, oldQuoted) = variant(table, "_precompact")
    val (scratch, scratchQuoted) = variant(table, "_compacting")
    if (!spark.catalog.tableExists(table)) {
      if (spark.catalog.tableExists(scratch))
        spark.sql(s"ALTER TABLE $scratchQuoted RENAME TO $quoted")
      else if (spark.catalog.tableExists(old))
        spark.sql(s"ALTER TABLE $oldQuoted RENAME TO $quoted")
    }
    if (spark.catalog.tableExists(table) && spark.catalog.tableExists(old))
      spark.sql(s"DROP TABLE $oldQuoted") // superseded complete copy
  }

  /** SNAPSHOT-VERSIONED table writes — the Iceberg/Delta time-travel
    * mechanism in miniature: each version's data lands in its OWN
    * immutable file set under `data/v<N>/`, and a per-version MANIFEST
    * (`manifests/v<N>.txt`, one data directory per line) lists exactly
    * the directories visible AT that version — an append's manifest is
    * the previous manifest plus its own directory. Readers resolve a
    * version through its manifest only, so a reader pinned to v1 never
    * sees v2's files no matter how many appends land after it — snapshot
    * isolation from immutability + manifest indirection, no locks.
    *
    * `version` 1 RESETS the table (deletes the root) so the build is
    * idempotent across reruns (the Soak double-pass contract); higher
    * versions require the predecessor manifest — an append can't
    * silently fork history.
    *
    * Scale shape: an append writes only its delta (O(|delta|)) and one
    * manifest line-set; as-of reads open exactly the listed directories
    * — no full-table scan to reconstruct any version, no copy-on-write.
    */
  def writeSnapshot(df: DataFrame, root: String, version: Int): Unit = {
    require(version >= 1, s"versions start at 1, got $version")
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    if (version == 1 && fs.exists(rootPath)) fs.delete(rootPath, true)
    commitVersion(df, fs, root, version, "errorifexists")
  }

  /** [[writeSnapshot]] with UPSERT semantics for one version — the
    * exactly-once convention a streaming writer needs: a REPLAYED batch
    * (same version, deterministic content) overwrites its own data
    * directory and manifest instead of erroring, so a crash between
    * data and manifest writes heals on replay. Versions other than the
    * replayed one are untouched — the append-only history contract
    * holds for every committed predecessor.
    */
  def writeSnapshotUpsert(df: DataFrame, root: String, version: Int): Unit = {
    require(version >= 1, s"versions start at 1, got $version")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    commitVersion(df, fs, root, version, "overwrite")
  }

  /** The commit step both snapshot writes share: read the predecessor
    * manifest (none for version 1), write `df` as the version's data
    * directory under `mode`, then write its manifest (predecessor + the
    * new directory). The manifest lands after the data, so a version
    * is never listed before its files exist.
    */
  private def commitVersion(df: DataFrame, fs: org.apache.hadoop.fs.FileSystem,
      root: String, version: Int, mode: String): Unit = {
    val prev =
      if (version == 1) Seq.empty[String]
      else readManifest(fs, root, version - 1)
    val dataDir = s"$root/data/v$version"
    df.write.mode(mode).parquet(dataDir)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/manifests/v$version.txt"), true)
    out.write((prev :+ dataDir).mkString("\n").getBytes("UTF-8"))
    out.close()
  }

  /** Read the table AS OF `version`: exactly the data directories its
    * manifest lists, unioned by Spark's multi-path parquet reader.
    */
  def readSnapshot(spark: SparkSession, root: String,
      version: Int): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val dirs = readManifest(fs, root, version)
    spark.read.parquet(dirs: _*)
  }

  /** SNAPSHOT RETENTION — the expire/vacuum half of the time-travel
    * lifecycle: versions ≤ `upTo` become unreadable (their manifests
    * delete) and every data directory REFERENCED ONLY by expired
    * manifests is reclaimed. Directories shared with surviving versions
    * stay — an expired v1's base files live on inside v2+'s manifests,
    * exactly like Iceberg's expire_snapshots. The newest version must
    * survive (`upTo` < latest), so history never empties.
    */
  def expireSnapshots(spark: SparkSession, root: String, upTo: Int): Unit = {
    require(upTo >= 1, s"upTo >= 1: $upTo")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val manifestDir = new org.apache.hadoop.fs.Path(s"$root/manifests")
    require(fs.exists(manifestDir),
      s"no snapshot table at $root — nothing to expire (missing manifests/)")
    val versions = fs.listStatus(manifestDir).toSeq
      .map(_.getPath.getName).filter(_.matches("v\\d+\\.txt"))
      .map(_.stripPrefix("v").stripSuffix(".txt").toInt).sorted
    require(versions.nonEmpty && upTo < versions.max,
      s"expire up to $upTo would delete the newest snapshot " +
        s"(versions: $versions)")
    val (dead, live) = versions.partition(_ <= upTo)
    val liveDirs = live.flatMap(v => readManifest(fs, root, v)).toSet
    // Crash-ordering: manifest FIRST, data second. A crash after the
    // manifest delete leaves orphaned-but-harmless data dirs (a rerun
    // reclaims nothing but readSnapshot fails with the clean 'no
    // manifest' require); the reverse order would leave a live-looking
    // manifest pointing at deleted directories — an opaque read error.
    dead.foreach { v =>
      val deadDirs = readManifest(fs, root, v).filterNot(liveDirs)
      fs.delete(
        new org.apache.hadoop.fs.Path(s"$root/manifests/v$v.txt"), false)
      deadDirs.foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
    }
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: String, version: Int): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/manifests/v$version.txt")
    require(fs.exists(p),
      s"snapshot v$version has no manifest under $root — appends must " +
        "follow an existing predecessor")
    val in = fs.open(p)
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, "UTF-8"))
    val lines = Iterator.continually(reader.readLine())
      .takeWhile(_ != null).toList
    reader.close()
    lines.filter(_.nonEmpty)
  }

  /** Morton (Z-order) key over numeric columns: each value maps to a
    * `bits`-bit bucket by linear min-max scaling, and the buckets' bits
    * interleave into one long. Rows close in z-value are close in EVERY
    * dimension, so range-partitioning + sorting by it clusters a file
    * layout for multi-column data skipping — where a single-column sort
    * gives perfect pruning on one predicate column and none on the rest,
    * z-order gives ~sqrt pruning on BOTH (file count f → per-file span
    * ~1/√f of each dimension for 2 columns).
    *
    * Pure bit arithmetic on codegen'd built-ins (floor/shift/and/or) —
    * no UDF; the z-key costs bits·ncols scalar ops per row.
    *
    * NULL handling: a row-level NULL in a z-column maps to bucket 0 (the
    * greatest() clamp treats the NULL-propagated bucket as below 0), so
    * null rows cluster with minimum-value rows. That keeps them
    * range-prunable for IS NOT NULL + range predicates but makes the
    * min-edge files null-heavy; pre-filter or route nulls to a dedicated
    * partition if they are frequent. Only all-null columns are rejected
    * (by [[writeZOrdered]]'s stats require).
    */
  def zValue(cols: Seq[Column], mins: Seq[Double], maxs: Seq[Double],
      bits: Int = 12): Column = {
    val n = cols.size
    require(n >= 1 && mins.size == n && maxs.size == n,
      "zValue: cols/mins/maxs must align")
    require(bits >= 1 && bits * n <= 62,
      s"zValue: $bits bits × $n cols exceeds a long")
    val maxBucket = (1L << bits) - 1
    // histogram binning (scale by 2^bits, clamp the hi edge): robust to
    // IEEE boundary drift, unlike scaling by 2^bits - 1 where e.g.
    // (2/3)*3 floors to 1
    val buckets = cols.lazyZip(mins).lazyZip(maxs).map { (c, lo, hi) =>
      val range = if (hi > lo) hi - lo else 1.0
      least(lit(maxBucket), greatest(lit(0L),
        floor((c.cast("double") - lit(lo)) / lit(range) *
          lit((maxBucket + 1).toDouble)).cast("long")))
    }
    (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      buckets.zipWithIndex.foldLeft(acc) { case (a, (bk, i)) =>
        a.bitwiseOR(shiftleft(shiftright(bk, b).bitwiseAND(lit(1L)), b * n + i))
      }
    }
  }

  /** Z-order-clustered parquet layout: range-partition and sort by the
    * interleaved [[zValue]], one file per partition. The min/max scan is
    * a bounded one-row driver pass (the [[graft.operators.Sampling]]
    * eager-offset discipline); everything else is one range exchange —
    * the same cost as any global sort-write. At 100 TB this is the
    * standard layout move for fact tables filtered on two or three
    * dimensions at once (data-skipping via parquet row-group stats).
    *
    * Reads `df` TWICE (the stats pass, then the write). For an expensive
    * or nondeterministic upstream, persist `df` first — a recomputed
    * nondeterministic input only has its drifted values clamped into the
    * edge buckets (correct files, degraded clustering), and the second
    * evaluation pays the full upstream cost again.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      nFiles: Int, bits: Int = 12): Unit = {
    require(zCols.nonEmpty && nFiles >= 1)
    val stats = df.agg(
      zCols.flatMap(c => Seq(min(col(c).cast("double")).as(s"_min_$c"),
        max(col(c).cast("double")).as(s"_max_$c"))).head,
      zCols.flatMap(c => Seq(min(col(c).cast("double")).as(s"_min_$c"),
        max(col(c).cast("double")).as(s"_max_$c"))).tail: _*).head()
    require(zCols.indices.forall(i => !stats.isNullAt(2 * i)),
      s"writeZOrdered: empty input or all-null z-column among $zCols — " +
        "min/max are undefined, nothing to cluster")
    val mins = zCols.indices.map(i => stats.getDouble(2 * i))
    val maxs = zCols.indices.map(i => stats.getDouble(2 * i + 1))
    df.withColumn("_z", zValue(zCols.map(col), mins, maxs, bits))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }
}
