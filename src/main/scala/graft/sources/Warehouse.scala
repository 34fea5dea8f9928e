package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, xxhash64}
import org.apache.spark.sql.types.StringType

/** Layered parquet warehouse: one directory per (layer, table), the
  * Spark analog of the reference's five PostgreSQL schemas
  * (reference: readme.md:193-199 — data_source/staging/bl_3nf/bl_dm/bl_cl).
  *
  * Plain parquet has no MERGE and no transactions, so every loader is a
  * pure (source, target) → newTarget function and the ONLY mutation is
  * [[overwrite]]: write to `<table>__tmp`, then atomically swap
  * directories. A crash mid-write leaves the old table intact — the
  * moral equivalent of the reference's per-procedure ROLLBACK
  * (reference: sql/staging/load_staging_sales_table.sql:137-148).
  */
class Warehouse(val root: String, spark: SparkSession) {

  private val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def path(layer: String, table: String): String = s"$root/$layer/$table"

  private def loudLongConf(key: String, default: Long): Long =
    spark.conf.getOption(key).map { v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$key='$v' is not a long"))
    }.getOrElse(default)

  // ---- single-writer lease ----
  //
  // The swap machinery (overwrite / overwritePartitions /
  // mergePartitionDirs) assumes ONE writer per table: two orchestrator
  // instances pointed at the same warehouse would interleave renames
  // and corrupt silently. The lease turns that into a LOUD failure: a
  // mutation creates `<table>__lock` (create-if-absent — atomic on
  // HDFS-like stores), heartbeats its mtime while the write runs, and
  // deletes it on exit. A second live writer's acquire fails against a
  // fresh mtime and throws naming the holder; a DEAD writer's lock
  // goes stale `graft.wh.writerLeaseMs` (default 60 s) after its last
  // heartbeat and is reclaimed, so a crash never wedges the table for
  // longer than one lease. Readers never touch the lock.

  private val writerId = java.util.UUID.randomUUID().toString
  private val heldLocks = new java.util.concurrent.ConcurrentHashMap[String, Integer]

  private def withWriterLock[T](layer: String, table: String)(body: => T): T = {
    val key = s"$layer/$table"
    val depth = heldLocks.merge(key, Integer.valueOf(1),
      (a, b) => Integer.valueOf(a.intValue + b.intValue)).intValue
    def unwind(): Unit =
      heldLocks.compute(key, (_, d) =>
        if (d == null || d.intValue <= 1) null
        else Integer.valueOf(d.intValue - 1)): Unit
    if (depth > 1) try body finally unwind() // re-entrant (compact → overwrite)
    else {
      val lock = new Path(path(layer, table + "__lock"))
      val ttl = loudLongConf("graft.wh.writerLeaseMs", 60000L)
      require(ttl > 0, s"graft.wh.writerLeaseMs=$ttl must be > 0")
      var hb: Option[java.util.concurrent.ScheduledFuture[_]] = None
      try {
        // a failed acquire must still unwind the depth counter (the
        // finally below), or the next attempt on this instance would
        // silently take the re-entrant path with no lease at all
        acquireLease(lock, ttl)
        hb = Some(Warehouse.heartbeats.scheduleAtFixedRate(
          () => try fs.setTimes(lock, System.currentTimeMillis(), -1)
            catch { case _: java.io.IOException => () },
          math.max(1000L, ttl / 4), math.max(1000L, ttl / 4),
          java.util.concurrent.TimeUnit.MILLISECONDS))
        body
      } finally {
        hb.foreach { h =>
          h.cancel(false): Unit
          fs.delete(lock, false): Unit
        }
        unwind()
      }
    }
  }

  private def acquireLease(lock: Path, ttl: Long): Unit = {
    var attempts = 0
    var held = false
    while (!held) {
      try {
        val out = fs.create(lock, false)
        try out.write(writerId.getBytes("UTF-8")) finally out.close()
        held = true
      } catch {
        case _: java.io.IOException =>
          attempts += 1
          val st = try Some(fs.getFileStatus(lock)) catch {
            case _: java.io.FileNotFoundException => None
          }
          st match {
            case None => () // holder released between create and stat — retry
            case Some(s)
              if System.currentTimeMillis() - s.getModificationTime > ttl =>
              // dead writer: past its lease with no heartbeat — reclaim.
              // Two stealers racing both delete; create(false) above lets
              // exactly one win.
              fs.delete(lock, false): Unit
            case Some(_) =>
              val holder = readSmallFile(lock).getOrElse("<unreadable>")
              throw new IllegalStateException(
                s"writer lease $lock is held by writer $holder — a second " +
                  "live writer on one table interleaves swaps and corrupts " +
                  "silently, so this fails loudly instead. If the holder is " +
                  "dead, the lease expires graft.wh.writerLeaseMs=" + ttl +
                  " ms after its last heartbeat (or run vacuumStaging " +
                  "once you are certain no writer is live)")
          }
          if (attempts > 5) throw new IllegalStateException(
            s"could not acquire writer lease $lock after $attempts attempts")
      }
    }
  }

  def exists(layer: String, table: String): Boolean = {
    recover(layer, table)
    fs.exists(new Path(path(layer, table), "_SUCCESS"))
  }

  def read(layer: String, table: String): DataFrame = {
    recover(layer, table)
    spark.read.parquet(path(layer, table))
  }

  /** Close the swap's crash window: a JVM death between
    * rename(target → old) and rename(tmp → target) leaves the table only
    * at `__old`; the next access restores it. With recovery the swap is
    * all-or-nothing from every reader's perspective.
    */
  private def recover(layer: String, table: String): Unit = {
    val target = new Path(path(layer, table))
    val old = new Path(path(layer, table + "__old"))
    if (!fs.exists(target) && fs.exists(new Path(old, "_SUCCESS")))
      fs.rename(old, target): Unit
    // partition-level swaps (overwritePartitions): a crash between the
    // two renames leaves `<part>__old` without a live dir — restore it;
    // a leftover WITH a live dir is a superseded version — drop it.
    // One top-level listing (≤ #months entries), cheap even on an
    // object store.
    if (fs.exists(target)) {
      fs.listStatus(target).filter(_.getPath.getName.endsWith("__old")).foreach { st =>
        val live = new Path(target, st.getPath.getName.stripSuffix("__old"))
        if (!fs.exists(live)) fs.rename(st.getPath, live): Unit
        else fs.delete(st.getPath, true): Unit
      }
      // LEAF-level swaps (overwritePartitions swapLeaves=true): their
      // `__old` backups live one level down, so healing them needs a
      // per-partition scan — O(partition dirs) listings, which would
      // tax EVERY read of a many-partition table for a crash that
      // almost never happened. The `__ptmp` staging dir gates it:
      // leaf swaps only run while it exists, so its absence (the
      // steady state, one cheap probe) proves there is nothing nested
      // to heal. Honest bound on the crashed case: readers cannot
      // delete the stale `__ptmp` (it is indistinguishable from an
      // ACTIVE writer's staging data, which a delete would destroy),
      // so every read between the crash and the table's next write
      // re-pays this scan finding nothing. EVERY completed write
      // clears it — overwritePartitions resets it, overwrite()
      // deletes it on exit (a whole-table swap makes any staged leaf
      // data dead by construction) — and a permanently decommissioned
      // writer's leftover is reclaimed by [[vacuumStaging]].
      if (fs.exists(new Path(path(layer, table + "__ptmp"))))
        fs.listStatus(target)
          .filter(st => st.isDirectory && !st.getPath.getName.endsWith("__old"))
          .foreach { p =>
            fs.listStatus(p.getPath).filter(_.getPath.getName.endsWith("__old"))
              .foreach { st =>
                val live = new Path(p.getPath, st.getPath.getName.stripSuffix("__old"))
                if (!fs.exists(live)) fs.rename(st.getPath, live): Unit
                else fs.delete(st.getPath, true): Unit
              }
          }
    }
    // a COMMITTED partition-dir merge (marker present) replays to
    // completion before any read proceeds — see mergePartitionDirs
    replayMerge(layer, table)
  }

  /** OPERATIONAL reclaim of a dead writer's leftovers: staging dirs
    * (`__tmp`, `__ptmp`, `__ctmp`) and the writer lease (`__lock`).
    * The caller asserts NO writer is live on this table — an active
    * writer's staging data would be destroyed, which is exactly why
    * readers can never do this themselves (recover()'s documented
    * staleness remainder). A committed-but-unfinished merge is
    * replayed to completion FIRST, so deleting `__ctmp` never strands
    * rows the marker still owed to the live tree.
    */
  def vacuumStaging(layer: String, table: String): Unit = {
    recover(layer, table)
    Seq("__tmp", "__ptmp", "__ctmp", "__lock").foreach(sfx =>
      fs.delete(new Path(path(layer, table + sfx)), true): Unit)
  }

  // ---- atomic partition-dir merge (the compaction primitive) ----

  private def mergeMarker(layer: String, table: String) =
    new Path(path(layer, table + "__cmerge"))

  /** Replace `sources` partition dirs of `partCol` with ONE
    * consolidated dir `partCol=target`, atomically from every reader's
    * perspective — the primitive under size-tiered wave compaction
    * ([[graft.streaming.EventPipelines]]): merging K settled waves
    * into one super-wave must never present a state where rows exist
    * in both the merged dir and a source dir (double-read) or in
    * neither (loss).
    *
    * `df` must carry ALL rows of the source dirs with `partCol`
    * already relabeled to `target` on every row (the caller owns that
    * completeness obligation, like overwritePartitions' leaf
    * contract). Protocol: (1) write `df` to the `__ctmp` staging tree;
    * (2) write the `__cmerge` marker (staged via rename, sentinel-
    * terminated — a torn marker is detected and ignored) listing
    * sources + target: THE commit point; (3) delete the source dirs,
    * install the staged target dir, drop marker + staging. A crash
    * before (2) leaves the live tree untouched (stale `__ctmp` is
    * reset by the next merge, overwrite(), or [[vacuumStaging]]); a
    * crash anywhere after (2) is replayed to completion by the next
    * reader's recover() — deletes are idempotent and the staged
    * target, which contains every merged row, wins over a live
    * target dir. Returns (rows merged, staged bytes written) — the
    * compaction cost observable the bench ledger attributes.
    */
  def mergePartitionDirs(df: DataFrame, layer: String, table: String,
                         partCol: String, sources: Seq[String], target: String,
                         subPartitionBy: Seq[String] = Nil): (Long, Long) =
    withWriterLock(layer, table) {
      recover(layer, table) // replay any previously committed merge first
      require(sources.nonEmpty && sources.contains(target),
        s"mergePartitionDirs: target '$target' must be one of the merged " +
          s"sources (${sources.mkString(",")}) — the consolidated dir reuses " +
          "an existing partition value so value-derived invariants (wave " +
          "counters, watermark predicates) survive the merge")
      val live = new Path(path(layer, table))
      require(fs.exists(live), s"mergePartitionDirs: $layer.$table must exist")
      val ctmp = new Path(path(layer, table + "__ctmp"))
      fs.delete(ctmp, true)
      val partCols = partCol +: subPartitionBy
      val obs = Observation()
      df.repartition(partCols.map(col): _*).observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").partitionBy(partCols: _*).parquet(ctmp.toString)
      val n = obs.get("n").asInstanceOf[Long]
      val staged = new Path(ctmp, s"$partCol=$target")
      require(fs.exists(staged),
        s"mergePartitionDirs: staging landed no $partCol=$target dir — every " +
          s"row of df must carry $partCol='$target'")
      val bytes = fs.getContentSummary(staged).getLength
      // commit point: stage the marker then rename — rename is atomic,
      // so a reader never parses a torn marker; the sentinel line is
      // the belt to that suspender (replayMerge ignores markers
      // without it, and an un-replayed ignored marker is safe: source
      // deletion only ever happens under a VALID marker)
      val marker = mergeMarker(layer, table)
      val markerTmp = new Path(marker.toString + ".tmp")
      writeSmallFile(markerTmp,
        ((partCol +: target +: sources) :+ "#end").mkString("\n"))
      fs.delete(marker, false)
      require(fs.rename(markerTmp, marker), s"rename $markerTmp -> $marker failed")
      replayMerge(layer, table)
      (n, bytes)
    }

  /** Complete a committed partition-dir merge ([[mergePartitionDirs]]
    * step 3) — idempotent, so recover() can replay it after a crash at
    * any point past the marker commit.
    */
  private def replayMerge(layer: String, table: String): Unit = {
    val marker = mergeMarker(layer, table)
    readSmallFile(marker).foreach { m =>
      val lines = m.split("\n")
      if (lines.length < 4 || lines.last != "#end") {
        // torn marker (no atomic rename available on this store): no
        // replay ever ran under it, so the live tree is untouched —
        // drop it and let the next compaction pass redo the merge
        fs.delete(marker, false): Unit
      } else {
        val partCol = lines(0)
        val target = lines(1)
        val sources = lines.slice(2, lines.length - 1).toSeq
        val live = new Path(path(layer, table))
        val ctmp = new Path(path(layer, table + "__ctmp"))
        sources.filterNot(_ == target).foreach(s =>
          fs.delete(new Path(live, s"$partCol=$s"), true): Unit)
        val staged = new Path(ctmp, s"$partCol=$target")
        if (fs.exists(staged)) {
          val tgt = new Path(live, s"$partCol=$target")
          fs.delete(tgt, true): Unit
          require(fs.rename(staged, tgt), s"rename $staged -> $tgt failed")
        }
        fs.delete(ctmp, true): Unit
        fs.delete(marker, false): Unit
      }
    }
  }

  /** Read a partitioned table with the partition column normalized back
    * to its written string form — partition-dir type inference would
    * otherwise read "202402" as int (SURVEY gotcha).
    */
  def readPartitioned(layer: String, table: String, partCol: String): DataFrame =
    read(layer, table).withColumn(partCol, col(partCol).cast(StringType))

  /** Incremental fact write: replace ONLY the partition dirs present in
    * `df`, each via an atomic per-partition swap (tmp write → rename
    * live→__old → rename in → drop __old). The 100 TB property: an
    * incremental run's write cost is O(affected partitions), never
    * O(table) — the reference's month-RANGE partition exchange
    * (load_fct_sales_fact_table_dimensional_layer.sql:55-102) on
    * immutable storage. A crash leaves every partition either fully old
    * or fully new (recover() closes the mid-swap window), and the
    * idempotent watermark+anti-join loader completes the remainder on
    * re-run — the same per-procedure granularity as the reference's
    * transactions.
    */
  def overwritePartitions(df: DataFrame, layer: String, table: String,
                          partCol: String,
                          subPartitionBy: Seq[String] = Nil,
                          swapLeaves: Boolean = false): Long = withWriterLock(layer, table) {
    // heal BEFORE touching the staging dir: deleting a crashed leaf
    // swap's __ptmp first would destroy the gate recover() keys on
    // while nested __old backups still hold the only copy of their
    // leaves' rows — every in-repo caller happens to read/exists (and
    // so recover) first, but this method must not depend on that
    recover(layer, table)
    val target = new Path(path(layer, table))
    require(fs.exists(target), s"overwritePartitions: $layer.$table must already exist")
    require(!swapLeaves || subPartitionBy.nonEmpty,
      "overwritePartitions(swapLeaves=true): needs a nested sub-partition level")
    val tmp = new Path(path(layer, table + "__ptmp"))
    fs.delete(tmp, true)
    val obs = Observation()
    // `subPartitionBy` nests extra partition levels UNDER partCol (e.g.
    // the dedup-index id-hash bucket dirs). With swapLeaves=false the
    // swap moves whole top-level partCol dirs, nested levels ride
    // along — the atomicity unit is the partCol value. With
    // swapLeaves=true the swap unit is the individual LEAF dir
    // (partCol=p/sub=b): only leaves present in `df` are replaced and
    // UNTOUCHED SIBLING BUCKETS OF A TOUCHED PARTITION SURVIVE — the
    // write-amplification contract for bucketed ingest tables, where a
    // batch touches O(batch) buckets of a partition holding a whole
    // corpus slice (callers then carry only the touched leaves' rows,
    // so write cost is O(touched leaves), never O(touched partitions)).
    // The caller owns the completeness obligation that makes this
    // sound: a leaf present in `df` must contain ALL rows that belong
    // in it (carried + fresh), exactly like a partition under the
    // top-level mode. The table's layout must be uniform either way:
    // every write must pass the same sub-partitions, or readers hit
    // Spark's conflicting-directory-structures error.
    val partCols = partCol +: subPartitionBy
    df.repartition(partCols.map(col): _*).observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(tmp.toString)
    val n = obs.get("n").asInstanceOf[Long]
    // Swap in ASCENDING partition order: a crash mid-loop then leaves
    // new data only for a chronological PREFIX of the affected months,
    // so the next run's watermark (= max over the swapped prefix, still
    // below every unswapped month's fresh rows) re-selects exactly the
    // unswapped remainder. Unordered swaps would let a later month land
    // first and push the watermark past an earlier month's lost rows.
    // Renames are require-checked: Hadoop rename reports failure by
    // returning false, and silently continuing would delete the fresh
    // partition with the tmp dir below. Single writer per table assumed
    // (the orchestrator's stage ordering guarantees it); a concurrent
    // reader's recover() at worst makes a rename fail loudly here.
    // Leaf-mode crash story: nested `sub=b__old` backups are healed by
    // recover()'s __ptmp-gated scan (see recover); a crash mid-loop
    // re-lands idempotently through the caller's replay guard.
    def swapDir(st: org.apache.hadoop.fs.FileStatus, liveParent: Path): Unit = {
      val live = new Path(liveParent, st.getPath.getName)
      val old = new Path(liveParent, st.getPath.getName + "__old")
      fs.delete(old, true)
      if (fs.exists(live))
        require(fs.rename(live, old), s"rename $live -> $old failed")
      require(fs.rename(st.getPath, live), s"rename ${st.getPath} -> $live failed")
      fs.delete(old, true)
    }
    fs.listStatus(tmp)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partCol + "="))
      .sortBy(_.getPath.getName)
      .foreach { st =>
        if (!swapLeaves) swapDir(st, target)
        else {
          val liveParent = new Path(target, st.getPath.getName)
          fs.mkdirs(liveParent): Unit
          fs.listStatus(st.getPath)
            .filter(c => c.isDirectory &&
              c.getPath.getName.startsWith(subPartitionBy.head + "="))
            .sortBy(_.getPath.getName)
            .foreach(swapDir(_, liveParent))
        }
      }
    fs.delete(tmp, true)
    n
  }

  /** Committed partition values of a partitioned table, read from the
    * partition directory names — zero Spark jobs, no footer reads. The
    * metadata query sequence-number derivations use (e.g. the
    * streaming-CC wave counter) — an aggregation over the partition
    * column would schedule a full scan job for what the directory
    * listing already knows.
    */
  def partitionValues(layer: String, table: String, partCol: String): Seq[String] = {
    recover(layer, table)
    val dir = new Path(path(layer, table))
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(partCol + "=") && !n.endsWith("__old"))
      .map(_.stripPrefix(partCol + "="))
  }

  /** Committed (partition value → nested sub-partition values) tree of
    * a two-level layout, off the directory names alone: one top-level
    * listing plus one listing per partition dir, zero Spark jobs, no
    * footer reads. This is the "pre-read listing" the streaming
    * dedup/CC maintenance paths build their PATH-LISTED reads from
    * ([[readLeafDirs]]): handing Spark the exact leaf dirs a pruned
    * read needs keeps per-batch listing O(selected dirs), where a
    * table-root read's InMemoryFileIndex would list every wave ×
    * bucket dir before partition pruning drops them. Cost here is
    * O(partition dirs) RPCs — bounded by the wave compaction the same
    * paths trigger ([[graft.streaming.EventPipelines]]).
    */
  def partitionTree(layer: String, table: String, partCol: String,
                    subCol: String): Seq[(String, Seq[String])] = {
    recover(layer, table)
    val dir = new Path(path(layer, table))
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partCol + "=") &&
        !st.getPath.getName.endsWith("__old"))
      .map { st =>
        val subs = fs.listStatus(st.getPath).toSeq.map(_.getPath.getName)
          .filter(n => n.startsWith(subCol + "=") && !n.endsWith("__old"))
          .map(_.stripPrefix(subCol + "="))
        st.getPath.getName.stripPrefix(partCol + "=") -> subs
      }
  }

  /** Read ONLY the given partition leaf dirs (paths relative to the
    * table root, e.g. `__wave=3/__bucket=5`), with `basePath` pinned to
    * the table root so the partition columns still materialize from
    * the dir names. The caller enumerates the leaves from
    * [[partitionTree]] — Spark's file index then lists just these
    * dirs, so a pruned read's METADATA cost matches its byte cost
    * (O(selected dirs), never O(table dirs)). Callers must pass a
    * non-empty set (an empty relation needs no read at all) of leaves
    * that exist (they came from the tree listing; this is a
    * single-writer table between listing and read).
    */
  def readLeafDirs(layer: String, table: String, leafDirs: Seq[String]): DataFrame = {
    require(leafDirs.nonEmpty,
      s"readLeafDirs($layer.$table): empty leaf-dir set — callers " +
        "short-circuit to an empty relation instead of scheduling a read")
    recover(layer, table)
    val base = path(layer, table)
    spark.read.option("basePath", base)
      .parquet(leafDirs.map(d => s"$base/$d"): _*)
  }

  /** Whether the table's partition dirs nest a `subCol=` level — the
    * layout probe behind the streaming dedup/CC index's bucketed-mode
    * detection. Schema-based detection (does the read carry the
    * column?) is unsound: a table re-landed flat can carry the bucket
    * as a DATA column, and writing it as a partition dir next to flat
    * waves is exactly the mixed layout Spark rejects. A MIXED tree
    * (some partition dirs nested, some flat — only a malformed
    * external pre-seed can produce it) throws instead of answering:
    * either answer would route a pruned read that silently misses the
    * other half's rows, where failing here is loud and pre-mutation.
    * O(partition dirs) listings, no Spark job.
    */
  def hasSubPartition(layer: String, table: String, partCol: String,
                      subCol: String): Boolean = {
    recover(layer, table)
    val dir = new Path(path(layer, table))
    if (!fs.exists(dir)) false
    else {
      val parts = fs.listStatus(dir).filter(st =>
        st.isDirectory && st.getPath.getName.startsWith(partCol + "=") &&
          !st.getPath.getName.endsWith("__old"))
      val nested = parts.map(st =>
        fs.listStatus(st.getPath).exists(_.getPath.getName.startsWith(subCol + "=")))
      if (nested.exists(identity) && !nested.forall(identity))
        throw new IllegalStateException(
          s"$layer.$table mixes $subCol=-nested and flat $partCol= dirs — " +
            "a pruned read routed off either answer would silently miss " +
            "the other layout's rows; re-land the table under ONE layout")
      nested.exists(identity)
    }
  }

  // ---- table / version metadata ----
  //
  // Tiny key→value sidecar files. Table meta (`<table>__meta/<name>`)
  // records layout constants fixed at table creation (e.g. the id-hash
  // bucket count) that every later writer must reuse — deriving them
  // from session conf per batch would silently fork the layout when a
  // deployment changes the conf. Version meta (`…__versions/v=N/
  // _graft_<name>`) rides inside the snapshot dir: vacuumed with it,
  // invisible to parquet reads (underscore prefix), and written AFTER
  // the version commits — readers must treat a missing entry as
  // "unknown" and fall back (the crash window between data commit and
  // meta write is the documented fallback trigger).

  private def writeSmallFile(p: Path, value: String): Unit = {
    fs.mkdirs(p.getParent): Unit
    val out = fs.create(p, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
  }

  private def readSmallFile(p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val b = new Array[Byte](4096)
        var n = in.read(b)
        while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
        Some(buf.toString("UTF-8"))
      } finally in.close()
    }

  def putTableMeta(layer: String, table: String, name: String, value: String): Unit =
    writeSmallFile(new Path(path(layer, table + "__meta"), name), value)

  def getTableMeta(layer: String, table: String, name: String): Option[String] =
    readSmallFile(new Path(path(layer, table + "__meta"), name))

  def putVersionMeta(layer: String, table: String, version: Int,
                     name: String, value: String): Unit =
    writeSmallFile(new Path(versionsDir(layer, table), s"v=$version/_graft_$name"), value)

  def getVersionMeta(layer: String, table: String, version: Int,
                     name: String): Option[String] =
    readSmallFile(new Path(versionsDir(layer, table), s"v=$version/_graft_$name"))

  /** Bytes under ONE partition dir — the size signal the size-tiered
    * wave compaction ranks merge candidates by (one recursive summary
    * call per dir, no Spark job; 0 for a missing dir). Only probed on
    * batches that actually trip the compaction threshold, so the
    * steady-state maintenance batch pays nothing for it.
    */
  def partitionDirBytes(layer: String, table: String, partCol: String,
                        value: String): Long = {
    val dir = new Path(path(layer, table), s"$partCol=$value")
    if (!fs.exists(dir)) 0L else fs.getContentSummary(dir).getLength
  }

  /** Data files inside one partition dir — the compaction observable
    * (counted through the table's own FileSystem, so it works on any
    * Hadoop-compatible store, not just local disk).
    */
  def partitionFileCount(layer: String, table: String, partCol: String, value: String): Int = {
    recover(layer, table) // repair a crashed swap before observing, like every reader
    val dir = new Path(path(layer, table), s"$partCol=$value")
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  /** Drop ONE partition dir — the partition analog of an empty
    * overwrite, for when an incremental correction empties a partition
    * (overwritePartitions can only replace dirs that have rows). Callers
    * must drop BEFORE swapping the months that absorb the moved rows: a
    * crash between the two leaves the rows in neither partition, and the
    * unchanged watermark re-selects them on the next run — remove-then-
    * add recovers, add-then-remove would duplicate.
    */
  def dropPartition(layer: String, table: String, partCol: String, value: String): Unit = {
    val dir = new Path(path(layer, table), s"$partCol=$value")
    if (fs.exists(dir)) { fs.delete(dir, true); () }
  }

  /** Bucketed overwrite via the session catalog: rows are hash-bucketed
    * (and sorted) on `bucketCols`, so equi-joins and aggregations on
    * those columns between same-bucketed tables need NO exchange — the
    * co-located-join layout for the 100 TB fact⋈fact / fact⋈big-dim
    * case where broadcast is impossible. Catalog tables (not bare paths)
    * because bucketing metadata lives in the catalog.
    */
  def overwriteBucketed(df: DataFrame, layer: String, table: String,
                        bucketCols: Seq[String], numBuckets: Int): Long = {
    val name = s"${layer}_$table"
    val tmpName = s"${name}__tmp"
    val target = new Path(path(layer, table + "__bucketed"))
    val tmp = new Path(path(layer, table + "__bucketed__tmp"))
    val old = new Path(path(layer, table + "__bucketed__old"))
    // Same tmp-write-then-swap contract as overwrite(): the long data
    // write lands in a staging table + dir; the swap is two checked
    // renames plus two catalog statements. A crash mid-write leaves the
    // live table intact; a crash between data swap and catalog swap
    // leaves the NAME stale/missing — loud on the next readBucketed,
    // never a silently partial table.
    spark.sql(s"DROP TABLE IF EXISTS $tmpName")
    fs.delete(tmp, true)
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.mode("overwrite")
      .option("path", tmp.toString)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(tmpName)
    val n = obs.get("n").asInstanceOf[Long]
    fs.delete(old, true)
    if (fs.exists(target))
      require(fs.rename(target, old), s"rename $target -> $old failed")
    require(fs.rename(tmp, target), s"rename $tmp -> $target failed")
    fs.delete(old, true)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // LIKE copies the bucket/sort spec from the staging table's catalog
    // entry; only the location differs (the swapped-in live dir).
    spark.sql(s"CREATE TABLE $name LIKE $tmpName LOCATION '${target.toString}'")
    spark.sql(s"DROP TABLE IF EXISTS $tmpName")
    n
  }

  def readBucketed(layer: String, table: String): DataFrame =
    spark.table(s"${layer}_$table")

  /** Small-file compaction: rewrite the table into ~`targetBytes` files
    * (per partition dir when `partCol` is set), preserving every row and
    * the partition layout, through the same atomic swap as any load.
    * Incremental month loads accrete one file per run; compaction
    * restores scan efficiency — at 100 TB an uncompacted table's
    * per-file open cost dominates the read path long before the bytes
    * do. Run it out-of-band (it is just another writer, single-writer
    * rule applies).
    */
  def compact(layer: String, table: String, partCol: Option[String] = None,
              targetBytes: Long = 128L * 1024 * 1024): Long = {
    val target = new Path(path(layer, table))
    val size = fs.getContentSummary(target).getLength
    // ceiling WITHOUT the size+target-1 numerator: that form wraps past
    // 2^63 for large targetBytes (e.g. a Long.MaxValue "one file please"
    // sentinel), and Int division would wrap past 2^31 — either way a
    // silent wrong file count. 1M-file cap bounds the other extreme.
    val nFiles = math.min(1L << 20, math.max(1L,
      size / targetBytes + (if (size % targetBytes == 0) 0 else 1))).toInt
    partCol match {
      case Some(c) =>
        // ~targetBytes files per dir: slice each partition value into
        // nFiles/dirs hash slices so a huge month still writes in
        // parallel as split-friendly files (1 slice → 1 file per dir)
        val nDirs = math.max(1, fs.listStatus(target)
          .count(st => st.isDirectory && st.getPath.getName.startsWith(c + "=")))
        val perDir = math.max(1, nFiles / nDirs)
        val base = readPartitioned(layer, table, c)
        val sliced = base.repartition(col(c),
          pmod(xxhash64(base.columns.map(col).toIndexedSeq: _*), lit(perDir)))
        overwrite(sliced, layer, table, partitionBy = Seq(c), preClustered = true)
      case None =>
        overwrite(read(layer, table).repartition(nFiles), layer, table)
    }
  }

  /** Atomic overwrite: tmp write + directory swap. `partitionBy` gives
    * the fact table its month layout (partition pruning on read —
    * the reference's RANGE partitions,
    * load_fct_sales_fact_table_dimensional_layer.sql:55-102).
    */
  def overwrite(df: DataFrame, layer: String, table: String,
                partitionBy: Seq[String] = Nil, preClustered: Boolean = false): Long = withWriterLock(layer, table) {
    // replay any committed-but-unfinished partition merge BEFORE the
    // full replace: just deleting its marker would strand the live
    // tree mid-replay (sources gone, staged target not installed),
    // and leaving the marker would replay it against the NEW table
    recover(layer, table)
    val target = new Path(path(layer, table))
    val tmp = new Path(path(layer, table + "__tmp"))
    val old = new Path(path(layer, table + "__old"))
    fs.delete(tmp, true)
    // Cluster rows by the partition columns before a partitioned write:
    // otherwise every task writes a file into every partition dir
    // (tasks × partitions small files — the classic 100 TB anti-pattern).
    // `preClustered` callers (compact) bring their own finer layout.
    val clustered =
      if (partitionBy.nonEmpty && !preClustered)
        df.repartition(partitionBy.map(org.apache.spark.sql.functions.col): _*)
      else df
    // S7 row-count rides the write job itself (df.observe) — no second
    // full scan of the freshly written table, which at 100 TB would
    // double every load's read volume.
    val obs = Observation()
    val writer = clustered.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(tmp.toString)
    val n = obs.get("n").asInstanceOf[Long]
    // Require-checked like overwritePartitions: Hadoop rename reports
    // failure by returning false; continuing would delete the fresh
    // data with `old` below (or leave stale data while the caller and
    // EtlLog record a completed load).
    fs.delete(old, true)
    if (fs.exists(target))
      require(fs.rename(target, old), s"rename $target -> $old failed")
    require(fs.rename(tmp, target), s"rename $tmp -> $target failed")
    fs.delete(old, true)
    // the whole table was just atomically replaced, so any staged
    // leaf-swap (`__ptmp`) or merge (`__ctmp`) data is dead by
    // construction — clearing it here means a table whose writes are
    // all overwrites never pays recover()'s __ptmp-gated nested scan
    // indefinitely after one crashed leaf swap
    fs.delete(new Path(path(layer, table + "__ptmp")), true)
    fs.delete(new Path(path(layer, table + "__ctmp")), true)
    n
  }

  // ---- versioned snapshots (time travel) ----
  //
  // Layout: `<layer>/<table>__versions/v=N/`, each an IMMUTABLE parquet
  // snapshot. Commit = write the next `v=N` dir; visibility = presence
  // of `_SUCCESS`, so a torn write is simply invisible and no swap or
  // pointer file is needed — readers of older versions are never
  // disturbed (snapshot isolation on an object store for free). At
  // 100 TB full-copy versioning is for DIMENSIONS; facts version
  // per-partition via overwritePartitions + compact instead.

  private def versionsDir(layer: String, table: String) =
    new Path(path(layer, table + "__versions"))

  private def versionList(layer: String, table: String): Seq[Int] = {
    val dir = versionsDir(layer, table)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toInt).sorted
      .filter(v => fs.exists(new Path(dir, s"v=$v/_SUCCESS")))
  }

  /** Commit `df` as the next snapshot version; returns its number.
    * SINGLE-WRITER-PER-TABLE semantics: the committed-slot re-check
    * below advances past versions another writer landed between our
    * listing and our write, but the `_SUCCESS` probe and the overwrite
    * write are not atomic — two writers racing the same table can both
    * pick `v=N` and one clobbers the other. That matches the
    * reference's one-orchestrator-per-warehouse model; multi-writer
    * needs an external lock or a rename-based commit protocol.
    * Overwrite-mode on the chosen slot only ever hits uncommitted
    * leftovers (torn writes), which are invisible to readers.
    */
  def writeVersion(df: DataFrame, layer: String, table: String): Int = {
    val dir = versionsDir(layer, table)
    var next = versionList(layer, table).lastOption.getOrElse(0) + 1
    while (fs.exists(new Path(dir, s"v=$next/_SUCCESS"))) next += 1
    df.write.mode("overwrite").parquet(new Path(dir, s"v=$next").toString)
    next
  }

  def latestVersion(layer: String, table: String): Option[Int] =
    versionList(layer, table).lastOption

  /** Read a specific committed snapshot (time travel). */
  def readVersion(layer: String, table: String, version: Int): DataFrame = {
    val p = new Path(versionsDir(layer, table), s"v=$version")
    require(fs.exists(new Path(p, "_SUCCESS")),
      s"$layer.$table has no committed version $version")
    spark.read.parquet(p.toString)
  }

  // ---- streaming batch-commit ledger ----
  //
  // One empty marker file per committed (table, checkpoint, batchId)
  // under `<layer>/<table>__ledger/[ns=H/]b=N`, where H identifies the
  // CHECKPOINT the batch ids belong to. foreachBatch replays a
  // micro-batch when the JVM dies between the user function and the
  // offset commit; the marker turns that replay into a metadata-only
  // skip. The inverse crash window (work landed, marker not yet
  // written) re-runs the batch — safe because every landing path here
  // is idempotent (anti-join + partition swap) — so the combination is
  // exactly-once effect with at-least-once cost only on the crash
  // boundary itself. Batch ids are only unique WITHIN one checkpoint
  // lineage — they restart from 0 on a fresh or relocated checkpoint —
  // so markers must never outlive their checkpoint: the namespace keeps
  // different checkpoint locations apart, and [[clearLedger]] wipes a
  // namespace when its checkpoint is re-initialized
  // (EventPipelines.ingestAvailableNow does both).

  private def ledgerMarker(layer: String, table: String, batchId: Long, ns: String) =
    new Path(path(layer, table + "__ledger"),
      (if (ns.isEmpty) "" else s"ns=$ns/") + s"b=$batchId")

  def batchCommitted(layer: String, table: String, batchId: Long,
                     ns: String = ""): Boolean =
    fs.exists(ledgerMarker(layer, table, batchId, ns))

  def markBatchCommitted(layer: String, table: String, batchId: Long,
                         ns: String = ""): Unit = {
    val m = ledgerMarker(layer, table, batchId, ns)
    fs.mkdirs(m.getParent): Unit
    fs.create(m, true).close()
  }

  /** Drop one checkpoint's committed-batch markers (or, with ns="", the
    * whole ledger). Called when a checkpoint is freshly initialized:
    * its batch ids restart at 0, and a stale marker from the previous
    * lineage would silently swallow the first new batches.
    */
  def clearLedger(layer: String, table: String, ns: String = ""): Unit = {
    val dir = new Path(path(layer, table + "__ledger"))
    fs.delete(if (ns.isEmpty) dir else new Path(dir, s"ns=$ns"), true): Unit
  }

  /** Ledger retention: drop all but the newest `keep` committed-batch
    * markers of one checkpoint namespace (mirrors [[vacuumVersions]]'
    * keep-the-newest floor semantics). Safe because Structured
    * Streaming only ever re-delivers the LAST batch of a lineage (the
    * crash window between the user function and the offset commit) —
    * older batch ids are behind the committed offsets and never replay,
    * so their markers are dead weight: one empty file per micro-batch,
    * forever, on a long-lived stream. `keep ≥ 1` retains the
    * replay-skip for every batch that can still legally arrive.
    * Returns the dropped batch ids.
    */
  def vacuumLedger(layer: String, table: String, keep: Int,
                   ns: String = ""): Seq[Long] = {
    require(keep >= 1, s"vacuumLedger(keep=$keep): must keep the newest marker")
    val base = new Path(path(layer, table + "__ledger"))
    val dir = if (ns.isEmpty) base else new Path(base, s"ns=$ns")
    if (!fs.exists(dir)) Nil
    else {
      val drop = fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("b=")).map(_.stripPrefix("b=").toLong)
        .sorted.dropRight(keep)
      drop.foreach(b => fs.delete(new Path(dir, s"b=$b"), false): Unit)
      drop
    }
  }

  /** Retention: drop all but the newest `keep` committed versions.
    * `keep` must be ≥ 1 — the live snapshot can never be vacuumed, which
    * also guarantees version numbers are never reused (the next number
    * is derived from the surviving latest).
    */
  def vacuumVersions(layer: String, table: String, keep: Int): Seq[Int] = {
    require(keep >= 1, s"vacuumVersions(keep=$keep): must keep the live snapshot")
    val drop = versionList(layer, table).dropRight(keep)
    drop.foreach(v =>
      fs.delete(new Path(versionsDir(layer, table), s"v=$v"), true): Unit)
    drop
  }
}

object Warehouse {
  /** One shared daemon thread heartbeats every held writer lease —
    * a timer per mutation would mint a thread per write.
    */
  private val heartbeats = java.util.concurrent.Executors
    .newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-wh-lease-heartbeat")
      t.setDaemon(true)
      t
    })
}
