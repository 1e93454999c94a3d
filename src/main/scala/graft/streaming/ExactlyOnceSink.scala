package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Idempotent exactly-once `foreachBatch` sink: partitioned Parquet plus an
 * atomic commit-epoch manifest — the "Iceberg-table subset" this engine
 * implements itself (no Iceberg runtime jar in this environment; see
 * SURVEY.md §7 note).
 *
 * Reference analog: StormCV's at-least-once ack/fail/replay cache
 * (`spout/CVParticleSpout.java:74-81,129-141`) — replays could duplicate
 * downstream effects. Here re-delivery is *detected*: Structured
 * Streaming may re-run a batch after restart, but a batch's epoch id is
 * recorded in the manifest atomically (write-temp + same-dir rename), and
 * a re-delivered epoch is skipped. Readers only see data whose manifest
 * entry exists ⇒ snapshot isolation over committed epochs.
 *
 * All manifest I/O goes through the Hadoop `FileSystem` API, so the table
 * can live on any Hadoop-supported store (`file://`, `hdfs://`, …) — the
 * transposition of the reference's pluggable connector plane
 * (`util/connector/ConnectorHolder.java:45-52`, `S3Connector.java`,
 * `FtpConnector.java`): where StormCV ships one connector class per
 * scheme, Hadoop's registry resolves the scheme from the URI.
 *
 * Object-store caveat (documented, as HDFS/POSIX semantics do NOT carry
 * over): on S3-style stores a "rename" is copy+delete — not atomic. There,
 * commit via a conditional PUT of the final manifest key instead
 * (S3A's create-with-overwrite=false maps to If-None-Match on recent
 * Hadoop), or front the manifest with a small transactional store. The
 * epoch protocol itself is unchanged — only the single "publish manifest
 * entry" primitive needs to be atomic.
 *
 * Layout (unbucketed / bucketed):
 *   table/
 *     data/epoch=<batchId>/part-*.parquet                  (per-epoch lineage)
 *     data/epoch=<batchId>/<bucketCol>=<n>/part-*.parquet  (bucketed sink)
 *     _manifest/epoch-<batchId>.json                       (commit record, atomic)
 *     _manifest/log-head.json + log-<n>.json               (commit log: the O(1) read index)
 *
 * Per-partition lineage: the manifest records the epoch's row count, its
 * file list, a schema fingerprint, and (bucketed) per-bucket row counts,
 * so any epoch can be audited or replayed independently.
 *
 * **Bucketed layout** (`bucketCol = Some("host_bucket")`): each epoch is
 * written partitioned by a SHADOW copy of the bucket column
 * (`__<bucketCol>=<n>/` directories) while the real column stays in the
 * data files — the SURVEY §7.1 module-3 layout and the transposition of
 * `StreamWriter`'s per-stream file routing
 * (`util/StreamWriter.java:142-170`). The shadow-dir design sidesteps
 * Spark partition discovery entirely (the `epoch=<id>` roots are
 * themselves partition-style names, which discovery refuses to mix with
 * nested partition dirs) and keeps the bucket column's exact type in the
 * data. At 100 TB this is what makes a per-host or per-shard query
 * prunable: [[read]] with `bucket=Some(n)` consults the manifests'
 * per-bucket counts and lists ONLY the matching `__<bucketCol>=<n>/`
 * directories — epochs with zero rows for the bucket are skipped without
 * touching the filesystem. The bucket column must be integral-valued
 * (directory-name round-trip) and the bucketing choice is fixed at table
 * creation. Bucketing trades write fan-out (one file per task × bucket
 * per epoch) for read pruning — turn it on when the table is read
 * selectively, leave it off for fire-hose tables that are only scanned
 * whole; compaction re-coalesces either way.
 *
 * **Schema evolution**: every commit records `schema_md5` (order-
 * insensitive fingerprint over (name, type) pairs), and a table-level
 * marker (`_manifest/table.json`) tracks the current fingerprint plus a
 * sticky `evolved` flag and the table's bucketing choice. Readers make
 * the plain-vs-`mergeSchema` decision from that ONE small file (not
 * O(epochs) manifest reads); `mergeSchema` unions by name with
 * missing-as-null (the documented choice; incompatible TYPE changes for
 * a same-named column still fail loudly inside Parquet schema merging,
 * which is the right outcome). Compaction rewrites everything to the
 * unified schema and resets the flag. The marker also makes opening a
 * table with the WRONG `bucketCol` a loud error instead of a silent
 * mis-read.
 *
 * **Maintenance** is one path: [[compact]] folds the committed epochs
 * into one snapshot, [[gcUnreferenced]] retires what it superseded.
 * Logs written by older versions may still hold per-bucket snapshot
 * records. Such a record has no `"epoch"` key and its horizon key is
 * not `"compact_hi"`, so it matches neither an epoch nor a snapshot
 * record: reads ignore it and serve the per-epoch data it was derived
 * from, which it never touched. Its data directories are an unknown
 * layout to GC and are kept.
 */
class ExactlyOnceSink(tableDir: String, bucketCol: Option[String] = None,
    statsCol: Option[String] = None, logSegCap: Int = 1000)
    extends Serializable {

  private def manifestDir: Path = new Path(tableDir, "_manifest")
  private def epochManifest(batchId: Long): Path =
    new Path(manifestDir, f"epoch-$batchId%010d.json")

  // ---- commit log (the O(1)-read metadata index) ---------------------
  // `_manifest/log-<n>.json` segments (one commit record per line, at
  // most `logSegCap` lines each) + a `log-head.json` pointer
  // {first_seg, last_seg}. Readers resolve the committed view — epoch
  // ids, the compaction horizon, AND every manifest body (bucket counts,
  // time envelopes, schema fingerprints) — from head + segments: a
  // BOUNDED number of file reads regardless of epoch count, instead of
  // LISTING `_manifest/` and opening one JSON per epoch (O(epochs); at a
  // 1 s trigger that is ~86k files/day between compactions, and on an
  // object store the listing dominates every read). The per-epoch JSON
  // stays authoritative for COMMITTING (its atomic rename is the
  // exactly-once decision point, and it is the per-epoch lineage
  // record); the log is the index. Iceberg's metadata-log chain, at
  // commit-epoch granularity.
  //
  // The log and the table marker are the sink's only metadata: write()
  // creates the log, then the marker, before a table's first commit, so
  // every table with commits has both, and every read resolves from them.
  //
  // Crash consistency (single-writer contract, same as the marker):
  //  - entry append = atomic replace of the tail segment (visible
  //    immediately, head unchanged); segment roll = write new segment,
  //    then move head — a crash between leaves the entry invisible, and
  //    the streaming re-delivery of that epoch repairs the log before
  //    skipping (write()'s early-return path).
  //  - compact() truncates the chain to one fresh segment holding the
  //    snapshot record BEFORE GC'ing superseded manifests; a crash
  //    between snapshot publish and truncation leaves the log serving
  //    the (still fully intact) pre-compaction view, and the compaction
  //    retry completes the truncation.
  //  - on stores whose rename refuses to overwrite, writeAtomic deletes
  //    the destination before renaming its temp file onto it; a crash
  //    between the two leaves the destination missing beside a complete
  //    `.<name>.tmp`. readMeta() reads that temp file in the
  //    destination's place, so the head, a segment or the marker is
  //    never lost to that window.
  // Old segments are deleted by gcUnreferenced(), alongside the data
  // dirs they index, once no reader can hold the old head.

  private def logHead: Path = new Path(manifestDir, "log-head.json")
  private def logSeg(n: Long): Path = new Path(manifestDir, f"log-$n%010d.json")

  /** Records are one line each in a segment; manifest bodies are written
    * pretty (multi-line) so they flatten on the way in. */
  private def oneLine(body: String): String = body.replace('\n', ' ')

  /** The log is the INDEX: drop the (unbounded) per-epoch file list on
    * the way in — the per-epoch manifest keeps the full lineage, and no
    * read path consults `files` from a log body. Every append rewrites
    * the tail segment, so entry size bounds the hot-path commit cost. */
  private def indexEntry(body: String): String =
    oneLine(body).replaceAll(""""files":\s*\[[^\]]*\]""", """"files": []""")

  private def tmpOf(dest: Path): Path = new Path(manifestDir, "." + dest.getName + ".tmp")

  /** Contents of a small metadata file (log head, log segment, table
    * marker), or None when it does not exist. A missing file whose
    * complete `.<name>.tmp` survives — the crash window of writeAtomic's
    * delete-then-rename branch — reads as that temp file. The
    * destination is tried once more last, in case a concurrent rename
    * landed between the first two tries. */
  private def readMeta(f: FileSystem, p: Path): Option[String] = {
    def attempt(q: Path): Option[String] =
      try Some(readManifestJson(f, q))
      catch { case _: java.io.FileNotFoundException => None }
    attempt(p).orElse(attempt(tmpOf(p)).filter(parsesCompletely)).orElse(attempt(p))
  }

  /** Non-empty and whole JSON values up to its end — a temp file cut
    * short by a crash mid-write fails. */
  private def parsesCompletely(body: String): Boolean = body.trim.nonEmpty && {
    val p = new com.fasterxml.jackson.core.JsonFactory().createParser(body)
    try { while (p.nextToken() != null) {}; true }
    catch { case _: java.io.IOException => false }
    finally p.close()
  }

  private def readLogHead(f: FileSystem): Option[(Long, Long)] =
    readMeta(f, logHead).map { js =>
      def field(k: String): Long = s""""$k":\\s*(\\d+)""".r.findFirstMatchIn(js)
        .map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(s"malformed commit log head $logHead: $js"))
      (field("first_seg"), field("last_seg"))
    }

  /** Atomic small-file replace (write-temp + same-dir rename). The
    * rename goes ONTO the existing destination first — an atomic replace
    * on POSIX/HDFS, so a crash at any point leaves either the old or the
    * new content, never neither. Only if the FS refuses to clobber
    * (strict no-overwrite semantics) does it fall back to delete+rename;
    * a crash between those two calls leaves the complete temp file,
    * which readMeta() serves until the next replace. */
  private def writeAtomic(f: FileSystem, dest: Path, body: String): Unit = {
    val tmp = tmpOf(dest)
    val out = f.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    if (!f.rename(tmp, dest)) {
      f.delete(dest, false)
      if (!f.rename(tmp, dest)) f.delete(tmp, false)
    }
  }

  private def writeLogHead(f: FileSystem, first: Long, last: Long): Unit =
    writeAtomic(f, logHead, s"""{"first_seg": $first, "last_seg": $last}""")

  /** One segment's records. The head points only at written segments,
    * so a missing one is lost metadata — refused, never read as empty. */
  private def segLines(f: FileSystem, n: Long): Seq[String] =
    readMeta(f, logSeg(n))
      .getOrElse(throw new IllegalStateException(s"commit log segment ${logSeg(n)} is missing"))
      .split('\n').toSeq.map(_.trim).filter(_.nonEmpty)

  /** The whole commit log, read once: head, then every live segment. A
    * table without a head has no commits yet (an empty view). */
  private def readLog(f: FileSystem): LogView = {
    val head = readLogHead(f)
    new LogView(head, head.toSeq.flatMap { case (first, last) =>
      (first to last).flatMap(segLines(f, _))
    })
  }

  private def epochOfEntry(js: String): Option[Long] =
    """"epoch":\s*(\d+)""".r.findFirstMatchIn(js).map(_.group(1).toLong)
  private def compactHiOfEntry(js: String): Option[Long] =
    """"compact_hi":\s*(\d+)""".r.findFirstMatchIn(js).map(_.group(1).toLong)

  private def epochSrc(e: Long): (String, Path) =
    (s"$tableDir/data/epoch=$e", epochManifest(e))
  private def snapSrc(h: Long): (String, Path) =
    (s"$tableDir/data/compact-$h", compactManifest(h))

  /** Everything a public operation needs, derived from ONE read of the
    * log: the compaction horizon, the epoch ids and every manifest body
    * (bucket counts, time envelopes, schema fingerprints). Sources are
    * (dataPath, manifestPath) pairs; the manifest path names the record,
    * the body comes from the log. A record of any other kind (a legacy
    * bucket snapshot) is ignored. */
  private final class LogView(val head: Option[(Long, Long)], val entries: Seq[String]) {
    val hi: Option[Long] = entries.flatMap(compactHiOfEntry).maxOption
    val epochs: Seq[Long] = entries.flatMap(epochOfEntry).distinct.sorted

    /** The newest snapshot plus every epoch committed after it. */
    def current: Seq[(String, Path)] =
      hi.map(snapSrc).toSeq ++ epochs.filter(e => hi.forall(e > _)).map(epochSrc)

    private lazy val bodies: Map[String, String] = entries.flatMap { e =>
      epochOfEntry(e).map(id => epochManifest(id).getName -> e)
        .orElse(compactHiOfEntry(e).map(h => compactManifest(h).getName -> e))
    }.toMap

    /** The logged record of the manifest `m`. */
    def body(m: Path): String = bodies.getOrElse(m.getName,
      throw new IllegalStateException(s"commit log of $tableDir has no record for ${m.getName}"))
  }

  /** The log head, initializing a fresh table's log first: an empty
    * first segment, then the head that makes it visible. write() creates
    * the log before the marker, so a marker without a head means the log
    * was lost — refused: an empty log would hide every committed epoch
    * from readers and from gcUnreferenced()'s live set. */
  private def ensureLog(f: FileSystem): (Long, Long) = readLogHead(f).getOrElse {
    if (readMeta(f, tableMeta).isDefined)
      throw new IllegalStateException(
        s"table $tableDir has a table marker but no commit log head ($logHead)")
    writeAtomic(f, logSeg(0L), "")
    writeLogHead(f, 0L, 0L)
    (0L, 0L)
  }

  /** Append one commit record; rolls to a fresh segment at the cap. */
  private def logAppend(f: FileSystem, body: String): Unit = {
    val (first, last) = ensureLog(f)
    val cur = segLines(f, last)
    if (cur.size >= logSegCap) {
      writeAtomic(f, logSeg(last + 1), indexEntry(body))
      writeLogHead(f, first, last + 1)
    } else {
      writeAtomic(f, logSeg(last), (cur :+ indexEntry(body)).mkString("\n"))
    }
  }

  /** Re-delivery repair: a crash between the manifest rename and the log
    * append left an epoch committed but unindexed — append it now (the
    * streaming engine replays exactly that batch on restart). */
  private def logRepair(f: FileSystem, batchId: Long): Unit = {
    val v = readLog(f)
    if (batchId <= v.hi.getOrElse(-1L) || v.epochs.contains(batchId)) return
    val m = epochManifest(batchId)
    if (f.exists(m)) logAppend(f, readManifestJson(f, m))
  }

  /** Truncate the chain to one fresh segment: the snapshot record plus
    * any epoch entries the snapshot does NOT cover (epochs committed
    * while the compaction ran — same single-maintainer contract as
    * compact() itself). Old segments stay on disk for in-flight readers
    * until gcUnreferenced(). */
  private def logTruncateTo(f: FileSystem, body: String, hi: Long): Unit = {
    val v = readLog(f)
    val keep = v.entries.filter(e => epochOfEntry(e).exists(_ > hi))
    val next = v.head.map(_._2 + 1).getOrElse(0L)
    writeAtomic(f, logSeg(next), (indexEntry(body) +: keep).mkString("\n"))
    writeLogHead(f, next, next)
  }
  // --------------------------------------------------------------------

  /** Driver-side FS handle for the table's scheme (foreachBatch runs on
    * the driver; executors never touch the manifest). */
  private def fs(): FileSystem = {
    val conf = SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())
    manifestDir.getFileSystem(conf)
  }

  // compactHi changes only when compact() publishes a snapshot; caching it
  // keeps committed() at one O(1) exists() probe per micro-batch instead of
  // a full log read per batch.
  // null = never loaded. Single-maintainer assumption: if ANOTHER process
  // compacts while this writer streams, call refreshCompactHi() (but
  // concurrent external compaction against a live writer is out of
  // contract anyway — see compact()).
  @transient private var hiCache: Option[Long] = _

  private def compactHiCached(): Option[Long] = {
    if (hiCache == null) hiCache = compactHi()
    hiCache
  }

  /** Drop the cached snapshot horizon (e.g. after an external compaction). */
  def refreshCompactHi(): Unit = hiCache = null

  /** Epoch is committed if its manifest exists OR a compacted snapshot
    * covers it (compaction GCs the per-epoch manifests it supersedes). */
  def committed(batchId: Long): Boolean =
    batchId <= compactHiCached().getOrElse(-1L) || fs().exists(epochManifest(batchId))

  /** Committed epoch ids, from the commit log (bounded reads, no
    * `_manifest` listing). */
  def committedEpochs(): Seq[Long] = readLog(fs()).epochs

  /** Highest epoch covered by a compacted snapshot, if any — log-backed
    * like [[committedEpochs]]. */
  def compactHi(): Option[Long] = readLog(fs()).hi

  /** The foreachBatch function. Safe under re-delivery of any batchId. */
  def write(df: DataFrame, batchId: Long): Unit = {
    if (committed(batchId)) { // re-delivered epoch: exactly-once skip
      // ... but first heal the index: a crash after the manifest rename
      // and before the log append left this epoch committed-but-unindexed
      logRepair(fs(), batchId)
      return
    }
    // read-only layout guard BEFORE any data work: a sink opened with the
    // wrong bucketCol must fail loudly here, not mis-route directories.
    // (The marker MUTATION happens after the data write below — a failed
    // write must not poison the sticky evolved flag with a schema that
    // never committed.)
    readMeta(fs(), tableMeta).foreach(requireLayoutMatch)
    val dataPath = s"$tableDir/data/epoch=$batchId"
    // persist so the count and the write share one computation of the
    // micro-batch plan (foreachBatch re-executes the plan per action)
    df.persist()
    val (count, bucketRows, tsStats) =
      try {
        // ONE aggregation action yields the row count, the event-time
        // envelope, AND (bucketed) the per-bucket counts: every extra
        // action re-traverses the persisted micro-batch on the hot path
        import org.apache.spark.sql.functions.{count => fcount, lit, min, max, unix_micros, col => fcol}
        val statAggs = statsCol.toSeq.flatMap(sc =>
          Seq(min(unix_micros(fcol(sc))), max(unix_micros(fcol(sc)))))
        val (c, bc, st0) = bucketCol match {
          case Some(b) =>
            val rows = df.groupBy(fcol(b))
              .agg(fcount(lit(1)), statAggs: _*).collect()
            rows.foreach { r =>
              // null buckets would route to Hive's default-partition dir,
              // unaddressable by pruned reads — refuse loudly instead
              require(!r.isNullAt(0),
                s"bucket column '$b' must be non-null for every row (epoch $batchId)")
            }
            val counts = rows.map(r => (r.get(0).toString.toLong, r.getLong(1)))
              .sortBy(_._1).toSeq
            val env = statsCol.flatMap { sc =>
              val los = rows.filter(!_.isNullAt(2)).map(_.getLong(2))
              val his = rows.filter(!_.isNullAt(3)).map(_.getLong(3))
              if (los.isEmpty) None else Some((sc, los.min, his.max))
            }
            (counts.map(_._2).sum, counts, env)
          case None =>
            statsCol match {
              case Some(sc) =>
                val r = df.agg(fcount(lit(1)), statAggs: _*).collect()(0)
                (r.getLong(0), Nil,
                  if (r.isNullAt(1)) None else Some((sc, r.getLong(1), r.getLong(2))))
              case None => (df.count(), Nil, None)
            }
        }
        // overwrite handles a partially-written, uncommitted previous
        // attempt; the shadow column routes directories, the real bucket
        // column stays in the data files
        bucketCol match {
          case Some(b) =>
            df.withColumn(shadowCol(b), org.apache.spark.sql.functions.col(b))
              .write.mode(SaveMode.Overwrite).partitionBy(shadowCol(b)).parquet(dataPath)
          case None =>
            df.write.mode(SaveMode.Overwrite).parquet(dataPath)
        }
        (c, bc, st0)
      } finally df.unpersist() // never pin the micro-batch across a retry
    val f = fs()
    f.mkdirs(manifestDir)
    // a fresh table gets its commit log, then its marker, before its
    // first commit publishes — every table with commits has both
    ensureLog(f)
    // marker mutation after the data landed, before the commit publishes
    updateTableMeta(f, ExactlyOnceSink.schemaMd5(df.schema))
    val tmp = new Path(manifestDir, s".epoch-$batchId.json.tmp")
    // per-partition lineage: the exact files this epoch committed (relative
    // paths, so bucket subdirs are covered), so any epoch is auditable/
    // replayable from its manifest entry alone
    val files = listPartFiles(f, new Path(dataPath))
    val body =
      s"""{"epoch": $batchId, "rows": $count, "committed_at_batch": $batchId,
         | "data_path": "data/epoch=$batchId",
         | "schema_md5": "${ExactlyOnceSink.schemaMd5(df.schema)}",
         | ${bucketsJson(bucketRows)}
         | ${statsJson(tsStats)}
         | "files": [${files.map(n => "\"" + n + "\"").mkString(", ")}]}""".stripMargin
    val out = f.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    // same-dir rename: atomic on POSIX and HDFS; returns false if the
    // destination exists (a concurrent duplicate commit won the race).
    // The log append follows the rename — the manifest IS the commit,
    // the log is the index (re-delivery repairs a crash between the two)
    if (f.rename(tmp, epochManifest(batchId))) logAppend(f, body)
    else { f.delete(tmp, false); logRepair(f, batchId) }
  }

  private def bucketsJson(bucketRows: Seq[(Long, Long)]): String =
    if (bucketCol.isEmpty) ""
    else s""""buckets": {${bucketRows.map { case (b, n) => s""""$b": $n""" }.mkString(", ")}},"""

  private def statsJson(st: Option[(String, Long, Long)]): String = st match {
    case Some((c, lo, hi)) =>
      s""""stats": {"col": "$c", "min_us": $lo, "max_us": $hi},"""
    case None => ""
  }

  /** (recorded column, min_us, max_us) of a manifest's stats entry. */
  private def statsOf(json: String): Option[(String, Long, Long)] =
    """"stats":\s*\{\s*"col":\s*"([^"]*)",\s*"min_us":\s*(-?\d+),\s*"max_us":\s*(-?\d+)""".r
      .findFirstMatchIn(json).map(m => (m.group(1), m.group(2).toLong, m.group(3).toLong))

  /** Stats recorded for THIS sink's statsCol; a manifest whose stats were
    * recorded for a DIFFERENT column fails loudly — pruning on the wrong
    * column's envelope would silently drop rows (same policy as the
    * bucketCol layout guard). */
  private def statsForPruning(json: String, sc: String): Option[(Long, Long)] =
    statsOf(json).map { case (c, lo, hi) =>
      if (c != sc) throw new IllegalStateException(
        s"manifest stats were recorded for column '$c' but this sink prunes on " +
          s"'$sc' — open the table with the statsCol it was written with")
      (lo, hi)
    }

  /** Relative part-file paths under `dir` (one level of bucket subdirs). */
  private def listPartFiles(f: FileSystem, dir: Path): Seq[String] = {
    val out = Seq.newBuilder[String]
    val it = f.listFiles(dir, true)
    val base = dir.toUri.getPath
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.startsWith("part-")) {
        val rel = p.toUri.getPath.stripPrefix(base).stripPrefix("/")
        out += rel
      }
    }
    out.result().sorted
  }

  private def compactManifest(h: Long): Path =
    new Path(manifestDir, f"compact-$h%010d.json")

  private def readManifestJson(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, UTF_8)
    } finally in.close()
  }

  private def schemaMd5Of(json: String): Option[String] =
    """"schema_md5":\s*"([0-9a-f]+)"""".r.findFirstMatchIn(json).map(_.group(1))

  // ---- table-level layout marker -------------------------------------
  // `_manifest/table.json` records the bucketing choice and the current
  // schema fingerprint (+ a sticky `evolved` flag). It exists so that
  //  (a) opening a table with the WRONG bucketCol fails loudly instead of
  //      silently dropping flat epochs from bucketed reads, and
  //  (b) readers decide plain-vs-mergeSchema from ONE small file instead
  //      of O(epochs) manifest round-trips per read.
  // Single-writer assumption (same as compact()): the marker is rewritten
  // by write()/gcUnreferenced() only.

  private def tableMeta: Path = new Path(manifestDir, "table.json")

  private def bucketColOf(json: String): Option[String] =
    """"bucket_col":\s*"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))
  private def evolvedOf(json: String): Boolean =
    """"evolved":\s*true""".r.findFirstMatchIn(json).isDefined

  private def writeTableMeta(f: FileSystem, md5: String, evolved: Boolean,
      layout: Option[String]): Unit = {
    f.mkdirs(manifestDir)
    // rename-onto-existing replace (see writeAtomic): closes the old
    // lost-marker window of delete-then-rename
    writeAtomic(f, tableMeta,
      s"""{"bucket_col": ${layout.map(b => "\"" + b + "\"").getOrElse("null")},
         | "schema_md5": "$md5", "evolved": $evolved}""".stripMargin)
  }

  private def requireLayoutMatch(json: String): Unit = {
    val recorded = bucketColOf(json)
    if (recorded != bucketCol)
      throw new IllegalStateException(
        s"table $tableDir was written with bucketCol=$recorded but opened with " +
          s"bucketCol=$bucketCol — a mismatched layout would silently mis-read; " +
          "use the layout the table was created with")
  }

  /** Maintain the marker on commit: validate layout, flip `evolved` when
    * the schema fingerprint changes. A fresh table's first commit writes
    * it: this sink's layout, not evolved. */
  private def updateTableMeta(f: FileSystem, md5: String): Unit =
    readMeta(f, tableMeta) match {
      case Some(js) =>
        requireLayoutMatch(js)
        if (!schemaMd5Of(js).contains(md5)) writeTableMeta(f, md5, evolved = true, bucketCol)
      case None => writeTableMeta(f, md5, evolved = false, bucketCol)
    }

  /** Reader-side: validate layout and decide mergeSchema from the marker
    * (one small read). Only called for tables with commits, which always
    * have a marker — a missing one is lost metadata and fails loudly (a
    * plain multi-path parquet read silently adopts the first file's
    * schema, so guessing "not evolved" is never safe). */
  private def readerEvolved(f: FileSystem): Boolean = {
    val js = readMeta(f, tableMeta).getOrElse(throw new IllegalStateException(
      s"table $tableDir has commits but no table marker ($tableMeta)"))
    requireLayoutMatch(js)
    evolvedOf(js)
  }

  // --------------------------------------------------------------------

  private def bucketRowsOf(json: String): Map[Long, Long] =
    """"buckets":\s*\{([^}]*)\}""".r.findFirstMatchIn(json).map { m =>
      """"(-?\d+)":\s*(\d+)""".r.findAllMatchIn(m.group(1))
        .map(x => x.group(1).toLong -> x.group(2).toLong).toMap
    }.getOrElse(Map.empty)

  private def shadowCol(b: String): String = s"__$b"

  /** All shadow bucket subdirectories of a source root (bucketed sinks;
    * a zero-row epoch simply has none). */
  private def bucketDirs(f: FileSystem, root: String, b: String): Seq[String] = {
    val p = new Path(root)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(shadowCol(b) + "="))
      .map(_.toString).sorted
  }

  /** One parquet scan over `paths`, merging schemas only when the table
    * marker says the schema ever evolved (mergeSchema unions by name
    * with missing-as-null; incompatible type changes still fail loudly). */
  private def readPaths(spark: SparkSession, paths: Seq[String],
      merge: Boolean): DataFrame =
    if (merge) spark.read.option("mergeSchema", "true").parquet(paths: _*)
    else spark.read.parquet(paths: _*)

  /**
   * Read a set of committed sources. Bucketed sinks are read at their
   * leaf bucket directories (the shadow column never appears in the
   * result); layout validation + the plain-vs-mergeSchema decision come
   * from the table marker — one small read, not O(epochs).
   */
  private def readSrcs(spark: SparkSession, f: FileSystem,
      srcs: Seq[(String, Path)]): DataFrame = {
    val merge = readerEvolved(f)
    val paths = bucketCol match {
      case Some(b) => srcs.flatMap { case (dp, _) => bucketDirs(f, dp, b) }
      case None => srcs.map(_._1)
    }
    if (paths.isEmpty)
      throw new IllegalStateException(
        s"no data files under committed sources in $tableDir (all epochs empty?)")
    readPaths(spark, paths, merge)
  }

  /**
   * Read back only committed data: the newest compacted snapshot (if
   * any) plus every epoch committed after it.
   *
   * `bucket = Some(n)` (bucketed sinks only) is the pruned-read path: the
   * manifests' per-bucket counts select only sources that HAVE rows for
   * the bucket, and only their `<bucketCol>=<n>/` subdirectories are
   * listed — a per-host query over a 100 TB table touches 1/nBuckets of
   * the files and skips silent epochs entirely.
   */
  def read(spark: SparkSession, bucket: Option[Long] = None,
      timeRange: Option[(Long, Long)] = None): DataFrame = {
    val f = fs()
    readCurrent(spark, f, readLog(f), bucket, timeRange)
  }

  /** [[read]] over an already-read log view: horizon, epoch list and
    * manifest bodies all come from `v`. */
  private def readCurrent(spark: SparkSession, f: FileSystem, v: LogView,
      bucket: Option[Long], timeRange: Option[(Long, Long)]): DataFrame = {
    val srcs = v.current
    if (srcs.isEmpty)
      throw new IllegalStateException(s"no committed epochs in $tableDir")
    if (bucket.isEmpty && timeRange.isEmpty) return readSrcs(spark, f, srcs)
    val sc = timeRange.map { _ =>
      statsCol.getOrElse(throw new IllegalArgumentException(
        s"time-range read requires a statsCol-configured sink ($tableDir)"))
    }
    val bname = bucket.map { _ =>
      bucketCol.getOrElse(throw new IllegalArgumentException(
        s"bucket read requires a bucketed sink (bucketCol=None in $tableDir)"))
    }
    val merge = readerEvolved(f) // the layout guard, before any pruning
    // both pruning dimensions — per-bucket row counts and the event-time
    // envelope — come from the logged manifest bodies
    val sel = srcs.collect { case (dp, m)
        if bucket.forall(b => bucketRowsOf(v.body(m)).getOrElse(b, 0L) > 0L) &&
          timeRange.forall { case (fromUs, untilUs) =>
            sc.flatMap(c => statsForPruning(v.body(m), c)) match {
              case Some((lo, hi)) => hi >= fromUs && lo <= untilUs
              case None => true // no stats recorded: cannot prune, must read
            }
          } => dp
    }
    val paths = (bname, bucketCol) match {
      // pruned single-bucket read: the real bucket column is in the data
      // files — no restoration
      case (Some(bn), _) => sel.map(dp => s"$dp/${shadowCol(bn)}=${bucket.get}")
      case (None, Some(bn)) => sel.flatMap(bucketDirs(f, _, bn))
      case (None, None) => sel
    }
    // nothing selected: zero rows with the table's schema (readSrcs keeps
    // the designed loud diagnostic when no source has data files at all)
    val df =
      if (paths.isEmpty) readSrcs(spark, f, srcs).limit(0)
      else readPaths(spark, paths, merge)
    withResidual(df, sc, timeRange)
  }

  /** Stats are a superset guard, not a row predicate: apply the exact
    * row filter on top of the pruned scan. */
  private def withResidual(df: DataFrame, sc: Option[String],
      timeRange: Option[(Long, Long)]): DataFrame = (sc, timeRange) match {
    case (Some(c), Some((fromUs, untilUs))) =>
      import org.apache.spark.sql.functions.{col => fcol, unix_micros}
      df.where(unix_micros(fcol(c)).between(fromUs, untilUs))
    case _ => df
  }

  /**
   * Time-range read with manifest-level pruning (statsCol sinks only):
   * epochs whose recorded `[min_us, max_us]` does not overlap
   * `[fromUs, untilUs]` are skipped without listing their files —
   * Iceberg's partition-stats pruning at commit granularity. A streaming
   * sink's epochs are naturally time-clustered (each micro-batch covers
   * a narrow event-time band), so a "yesterday only" query over a
   * 100 TB table touches a sliver of the epochs. The residual row filter
   * is applied on top (stats are a superset guard, not a row predicate);
   * epochs without stats (written by a sink without statsCol, or an
   * all-null column) are conservatively KEPT.
   */
  def readTimeRange(spark: SparkSession, fromUs: Long, untilUs: Long): DataFrame =
    read(spark, bucket = None, timeRange = Some((fromUs, untilUs)))

  /**
   * Table observability: one row per current source (newest snapshot +
   * live epochs) with its commit metadata — the `DESCRIBE
   * TABLE`/`snapshots()` analog, read entirely from the commit log.
   * Columns: source, kind, rows (null for snapshots, which record
   * n_epochs instead), schema_md5, n_buckets, min_us, max_us.
   */
  def describe(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val v = readLog(fs())
    v.current.map { case (dp, m) =>
      val js = v.body(m)
      val name = new Path(dp).getName
      val rows = """"rows":\s*(\d+)""".r.findFirstMatchIn(js).map(_.group(1).toLong)
      val st = statsOf(js)
      (name,
        if (name.startsWith("compact-")) "snapshot" else "epoch",
        rows.map(java.lang.Long.valueOf).orNull,
        schemaMd5Of(js).orNull,
        bucketRowsOf(js).size,
        st.map(x => java.lang.Long.valueOf(x._2)).orNull,
        st.map(x => java.lang.Long.valueOf(x._3)).orNull)
    }.toDF("source", "kind", "rows", "schema_md5", "n_buckets", "min_us", "max_us")
  }

  /**
   * Time travel: the table as of a given epoch (snapshot isolation over
   * the manifest — Iceberg's `VERSION AS OF`, at commit-epoch
   * granularity). Per-epoch history survives until a compaction GC's the
   * manifests it supersedes; asking for an epoch below the newest
   * snapshot's hi fails loudly rather than returning merged data.
   */
  def readAsOf(spark: SparkSession, asOfEpoch: Long): DataFrame = {
    val f = fs()
    val v = readLog(f)
    v.hi.filter(_ > asOfEpoch).foreach { h =>
      throw new IllegalStateException(
        s"history up to epoch $h was compacted away; cannot read as-of $asOfEpoch")
    }
    val srcs = v.hi.map(snapSrc).toSeq ++
      v.epochs.filter(e => e <= asOfEpoch && v.hi.forall(e > _)).map(epochSrc)
    if (srcs.isEmpty)
      throw new IllegalStateException(s"no epochs committed at or before $asOfEpoch")
    readSrcs(spark, f, srcs)
  }

  /**
   * Incremental scan: rows committed in epochs `(afterEpoch, untilEpoch]`
   * — Iceberg's incremental read between two snapshots, at commit-epoch
   * granularity. The unit a downstream consumer (compactor, index
   * builder, CDC-style replicator) uses to process ONLY what is new
   * since its last run instead of rescanning the table. Fails loudly if
   * compaction already folded part of the requested range (per-epoch
   * lineage for that range is gone).
   */
  def readBetween(spark: SparkSession, afterEpoch: Long,
      untilEpoch: Long = Long.MaxValue): DataFrame = {
    // the epoch list and the compaction horizon come from ONE log read,
    // so they describe the same commit-log state: a concurrent compaction
    // either shows in the horizon (and fails the guard) or not at all.
    // Data dirs survive compaction until the separate GC step, so a view
    // that passed the guard reads consistent data.
    val f = fs()
    val v = readLog(f)
    v.hi.filter(_ > afterEpoch).foreach { h =>
      throw new IllegalStateException(
        s"epochs <= $h were compacted away; incremental read after $afterEpoch is no longer exact")
    }
    val epochs = v.epochs.filter(e => e > afterEpoch && e <= untilEpoch)
    if (epochs.isEmpty) {
      // caught up: zero rows with the real table schema; a table with no
      // commits at all has no schema yet — that's "producer not started",
      // not an error, so hand back an empty frame the poller can retry on
      return if (v.current.nonEmpty) readCurrent(spark, f, v, None, None).limit(0)
      else spark.emptyDataFrame
    }
    readSrcs(spark, f, epochs.map(epochSrc))
  }

  /**
   * Compact all currently committed data into one snapshot with
   * `targetPartitions` files — the table-maintenance half of the
   * "Iceberg subset": a streaming sink accretes one small directory per
   * micro-batch (at 100 TB/day that is thousands of undersized files a
   * day), and scan cost is dominated by file count.
   *
   * Protocol (same atomic-publish discipline as `write`):
   *   1. rewrite the captured epochs (plus the previous snapshot) to
   *      `data/compact-<hi>`;
   *   2. publish `compact-<hi>.json` atomically (one rename — readers
   *      see the old epochs or the snapshot, never a mix);
   *   3. GC the superseded manifests (covered epochs + older compacts).
   *      Their data dirs are left for in-flight readers; a later
   *      compaction run or external GC can remove them once no reader
   *      can hold the old manifest list.
   *
   * Safe vs re-delivery: `committed` treats every epoch ≤ the snapshot's
   * hi as committed, so a replayed old batch is still skipped after its
   * per-epoch manifest was GC'd.
   */
  def compact(spark: SparkSession, targetPartitions: Int = 8): Unit = {
    val f = fs()
    // the capture: EXACTLY these epochs are folded below. The horizon and
    // the manifest bodies come from one log read taken after it, which
    // holds every captured epoch's record (records leave the log only
    // through compaction, which has a single maintainer)
    val epochs = committedEpochs()
    val v = readLog(f)
    val prevHi = v.hi
    if (epochs.isEmpty || (epochs.size < 2 && prevHi.isEmpty)) return
    val hi = epochs.max
    val dataPath = s"$tableDir/data/compact-$hi"
    // rewrite EXACTLY the captured epoch set — not read(), which would
    // fold an epoch committed concurrently (> hi) into the snapshot while
    // its own manifest survives the GC below, permanently duplicating
    // its rows
    val srcs = prevHi.map(snapSrc).toSeq ++
      epochs.filter(e => prevHi.forall(e > _)).map(epochSrc)
    // bucket counts / stats envelopes come from the captured manifests —
    // ALWAYS read: a compactor instance constructed without statsCol must
    // still carry the envelopes forward (the per-epoch manifests are GC'd
    // below; dropping the stats here would permanently disable time-range
    // pruning for the whole table)
    val jsons = srcs.map { case (_, m) => v.body(m) }
    val src = readSrcs(spark, f, srcs)
    bucketCol match {
      case Some(b) =>
        // keep the pruned layout: cluster by bucket so each bucket's rows
        // land in few files, then the shadow column routes them to dirs
        src.repartition(targetPartitions, org.apache.spark.sql.functions.col(b))
          .withColumn(shadowCol(b), org.apache.spark.sql.functions.col(b))
          .write.partitionBy(shadowCol(b)).mode(SaveMode.Overwrite).parquet(dataPath)
      case None =>
        src.coalesce(targetPartitions).write.mode(SaveMode.Overwrite).parquet(dataPath)
    }
    // snapshot bucket counts = exact sum over the captured manifests (no
    // second scan of the data)
    val bucketSum: Seq[(Long, Long)] =
      jsons.flatMap(bucketRowsOf).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        .toSeq.sortBy(_._1)
    // snapshot time-range stats = envelope of the captured manifests';
    // only valid if EVERY captured source carried stats FOR ONE column
    // (a coverage gap or mixed columns would make the envelope a false
    // pruning bound). Derived from the manifests, not this instance's
    // statsCol, so any maintenance process preserves them.
    val statsEnv: Option[(String, Long, Long)] = {
      val sts = jsons.map(statsOf)
      if (sts.nonEmpty && sts.forall(_.isDefined) &&
          sts.flatten.map(_._1).distinct.size == 1)
        Some((sts.flatten.head._1,
          sts.flatten.map(_._2).min, sts.flatten.map(_._3).max))
      else None
    }
    val tmp = new Path(manifestDir, s".compact-$hi.json.tmp")
    val body =
      s"""{"compact_hi": $hi, "n_epochs": ${epochs.size},
         | "schema_md5": "${ExactlyOnceSink.schemaMd5(src.schema)}",
         | ${bucketsJson(bucketSum)}
         | ${statsJson(statsEnv)}
         | "data_path": "data/compact-$hi"}""".stripMargin
    val out = f.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    val dest = compactManifest(hi)
    if (!f.rename(tmp, dest)) {
      f.delete(tmp, false)
      // dest already present = a previous run crashed between publishing
      // the snapshot and truncating the log/GC'ing — fall through and
      // finish those steps instead of leaving the log stale forever
      if (!f.exists(dest)) return
    }
    hiCache = Some(hi)
    // truncate the commit log to the snapshot record BEFORE the manifest
    // GC below: log-based readers must never be pointed at manifests
    // this run is about to delete
    logTruncateTo(f, body, hi)
    // NOTE: the evolved flag is NOT reset here even though the snapshot
    // unified the schema — in-flight readers may still hold pre-compaction
    // source lists (their data dirs survive until GC by design) and a
    // premature plain-read decision would mis-read them. The reset happens
    // in gcUnreferenced(), which by contract runs only once no reader can
    // hold the old source list.
    // GC superseded manifests (data dirs retained for in-flight readers)
    epochs.filter(_ <= hi).foreach(e => f.delete(epochManifest(e), false))
    prevHi.foreach(h => f.delete(compactManifest(h), false))
  }

  /**
   * Delete data directories no longer referenced by any manifest entry
   * (epoch dirs folded into a snapshot, superseded snapshots). Run this
   * once no reader can still hold a pre-compaction source list — the
   * grace period is operational (e.g. max query runtime), which is why
   * GC is a separate explicit step and not part of [[compact]].
   * Returns the number of directories removed.
   */
  def gcUnreferenced(): Int = {
    val f = fs()
    val dataDir = new Path(tableDir, "data")
    if (!f.exists(dataDir)) return 0
    // capture the horizons FIRST: a directory with an id beyond them may
    // be an IN-FLIGHT write (parquet laid down, manifest not yet
    // published) — deleting it would let write()/compact() publish a
    // manifest pointing at deleted files. Anything at or below a captured
    // horizon that is still unreferenced is genuinely superseded.
    val v = readLog(f)
    val hi = v.hi
    val maxEpoch = v.epochs.lastOption.getOrElse(hi.getOrElse(-1L))
    val live: Set[String] =
      v.epochs.map(e => s"epoch=$e").toSet ++ hi.map(h => s"compact-$h").toSet
    def superseded(name: String): Boolean = name match {
      case s if s.startsWith("epoch=") =>
        s.stripPrefix("epoch=").toLongOption.exists(_ <= maxEpoch)
      case s if s.startsWith("compact-") =>
        s.stripPrefix("compact-").toLongOption.exists(c => hi.exists(c < _))
      case _ => false // unknown layout: never delete
    }
    // no reader can hold a pre-compaction source list anymore (that is
    // this method's calling contract), so if every CURRENT manifest shares
    // one schema fingerprint the sticky evolved flag can finally reset and
    // future reads go back to the plain (no-mergeSchema) path
    val md5s = v.current.map { case (_, m) => schemaMd5Of(v.body(m)) }
    if (md5s.nonEmpty && md5s.forall(_.isDefined) && md5s.flatten.distinct.size == 1) {
      // carry the RECORDED layout forward verbatim: maintenance is
      // documented to run from a plain `new ExactlyOnceSink(dir)`, and
      // substituting that instance's bucketCol here would reset a
      // bucketed table's marker to flat — every correctly-configured
      // reader would then fail the layout guard (and a flat one would
      // pass it against bucketed data)
      readMeta(f, tableMeta).foreach { js =>
        writeTableMeta(f, md5s.head.get, evolved = false, bucketColOf(js))
      }
    }
    val victims = f.listStatus(dataDir).toSeq
      .map(_.getPath)
      .filter(p => !live.contains(p.getName) && superseded(p.getName))
    victims.foreach(p => f.delete(p, true))
    // GC the commit-log segments below the live head range (compaction
    // moved first_seg past them; they only existed for in-flight
    // readers). A table without a head has no commit log, so nothing to
    // drop.
    v.head.foreach { case (first, _) =>
      f.listStatus(manifestDir).toSeq.map(_.getPath)
        .filter { p =>
          val s = p.getName
          s.startsWith("log-") && s.endsWith(".json") && s != logHead.getName &&
            s.stripPrefix("log-").stripSuffix(".json").toLongOption.exists(_ < first)
        }
        .foreach(p => f.delete(p, false))
    }
    victims.size
  }
}

object ExactlyOnceSink {

  /** Order-insensitive schema fingerprint over (name, type) pairs —
    * column reorder is not an evolution event, an added/removed/retyped
    * column is. */
  def schemaMd5(schema: org.apache.spark.sql.types.StructType): String = {
    val canon = schema.fields.map(f => s"${f.name}:${f.dataType.sql}").sorted.mkString(";")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes(UTF_8)).map(b => f"$b%02x").mkString
  }

  /** Deterministic integral routing bucket for a sink's `bucketCol` —
    * e.g. `pages.withColumn("host_bucket", ExactlyOnceSink.bucket(col("host"), 64))`. */
  def bucket(c: org.apache.spark.sql.Column, nBuckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pmod(xxhash64(c), lit(nBuckets.toLong)).cast("int")
  }
}
