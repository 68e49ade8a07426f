package graft.sources

import java.io.File
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, broadcast, coalesce, col, count, countDistinct, inline, lit, max, min, struct, sum, unix_micros, when}
import org.apache.spark.sql.types.{StringType, TimestampType}

/** Minimal versioned table: an immutable-data, commit-log storage layer
  * giving snapshot isolation, time travel, optimistic concurrency and
  * vacuum over plain parquet — the lakehouse transaction shape (the
  * reference delegates this to TimescaleDB's MVCC; on an object store
  * there is no MVCC, only immutable files plus a log, which is what this
  * implements).
  *
  * Layout:
  * {{{
  *   <root>/data/v00003-9f2c41aa/part-*.parquet  # one immutable dir per ATTEMPT
  *   <root>/_commits/v00003.manifest             # line-oriented snapshot manifest
  * }}}
  *
  * A snapshot manifest lists the data DIRS composing the version (append
  * accumulates the parent's dirs; overwrite starts fresh), so a reader
  * resolves ONE small file and then touches only the listed dirs — never a
  * recursive listing of a 100 TB table.
  *
  * Commit protocol: (1) write the new data dir under a name UNIQUE to this
  * attempt (version prefix for readability + a random token) — data files
  * need no atomicity because nothing references them yet, and two racing
  * writers can never clobber each other's files; (2) publish the manifest
  * through the [[CommitStore]] conditional put, which is the single atomic
  * commit point: exactly one writer per version wins, the loser gets a
  * [[VersionedTable.CommitConflictException]] (retry by re-reading
  * `latestVersion`) and its data dir is removed (best effort — a crash
  * leaves an unreferenced orphan that vacuum reaps after a grace window).
  * Readers pin a manifest, so a concurrent vacuum with `retainLast >= 1`
  * never deletes files under a retained version they could be reading.
  *
  * Scale notes: commit cost is O(batch) + one conditional metadata put;
  * time-travel read cost is O(files in that snapshot); vacuum is
  * O(versions) metadata + file deletes, data-free. Nothing scans the table.
  */
class VersionedTableOps(val store: CommitStore,
    val data: DataStore = DataStore.default) {
  import VersionedTable.{CommitConflictException, DirBloom, DirStat, DvFile, Snapshot}

  private def dataDir(root: String) = new File(root, "data")

  /** Wall clock for commit stamps and retention decisions — a seam so
    * tests drive time-based behavior (wall-clock VACUUM retention) with
    * controlled timestamps instead of sleeping.
    */
  protected def nowMs(): Long = System.currentTimeMillis()

  private def toDouble(v: Any): Double = v match {
    case l: Long   => l.toDouble
    case d: Double => d
    case i: Int    => i.toDouble
    case f: Float  => f.toDouble
    case s: String => VersionedTable.strImage(s) // string stats: prefix image
    case x         => x.toString.toDouble
  }

  /** Highest committed version, or None for an empty/absent table. */
  def latestVersion(root: String): Option[Int] = {
    val vs = store.versions(root)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Versions whose manifest still exists (i.e. not yet vacuumed) — the
    * set a Vacuum action could actually reap, as opposed to
    * [[historySummary]], whose entries survive vacuum by contract.
    */
  def existingVersions(root: String): Seq[Int] = store.versions(root)

  /** Table-level configuration (`_props` at the table root, `key=value`
    * per line) — the home of `graft.cdf.enabled` and friends. Properties
    * are OPERATIONAL config, not versioned state: they steer how future
    * commits behave (stage CDF images or not), never what a committed
    * snapshot contains, so a plain last-writer-wins file is the right
    * weight — exactly the role Delta's `delta.enableChangeDataFeed`
    * table property plays. One tiny file read per DML commit; absent
    * file = empty map (every property defaults off).
    */
  def tableProperties(root: String): Map[String, String] = {
    val f = new File(root, "_props")
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().flatMap { line =>
        val i = line.indexOf('=')
        if (i <= 0) None else Some(line.substring(0, i) -> line.substring(i + 1))
      }.toMap
      finally src.close()
    }
  }

  /** Merge `props` into the table's `_props` file (last writer wins PER
    * KEY; a null/empty value removes the key). The read-merge-write is
    * SERIALIZED — a per-root JVM monitor plus an OS file lock on
    * `_props.lock` for cross-process writers — so two concurrent callers
    * (say, `renameColumn` stamping `graft.column.mapping` racing a user
    * toggling `graft.cdf.enabled`) can never silently drop each other's
    * keys; the rename alone only prevented torn files, not lost updates.
    * The write itself stays atomic via temp-file rename, so readers
    * (which take no lock) never see a torn file.
    */
  def setTableProperties(root: String, props: Map[String, String]): Unit = {
    new File(root).mkdirs()
    val monitor = VersionedTable.propsLocks
      .computeIfAbsent(new File(root).getCanonicalPath, _ => new Object)
    monitor.synchronized {
      val raf = new java.io.RandomAccessFile(new File(root, "_props.lock"), "rw")
      try {
        val osLock = raf.getChannel.lock()
        try {
          val merged = (tableProperties(root) ++ props).filter { case (_, v) =>
            v != null && v.nonEmpty
          } -- props.collect { case (k, v) if v == null || v.isEmpty => k }
          val body = merged.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")
          val tmp = File.createTempFile("_props", ".tmp", new File(root))
          java.nio.file.Files.write(tmp.toPath, body.getBytes("UTF-8"))
          java.nio.file.Files.move(tmp.toPath, new File(root, "_props").toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } finally osLock.release()
      } finally raf.close()
    }
  }

  /** Effective CDF switch for a DML commit: the explicit argument when the
    * caller passed one, else the table's `graft.cdf.enabled` property,
    * else OFF. Off by default is deliberate (Delta's
    * `delta.enableChangeDataFeed` semantics): staging row images is write
    * amplification every writer pays, so only tables with change-feed
    * subscribers opt in.
    */
  protected def resolveCdf(root: String, cdf: Option[Boolean]): Boolean = {
    val on = cdf.getOrElse(
      tableProperties(root).get(VersionedTable.CdfEnabledProp).contains("true"))
    // Migration tripwire (CDF flipped to opt-in in r15): a table that HAS
    // change images from earlier commits but is now committing DML without
    // staging any will strand its changeFeed consumers at the first
    // unstaged version. Warn ONCE per root — loudly, but without failing
    // the commit (the off switch may be deliberate).
    if (!on && new File(root, "_changes").isDirectory) {
      if (VersionedTable.cdfSkipWarned.add(new File(root).getCanonicalPath))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"table $root has change images from prior commits but CDF is now " +
            "OFF (graft.cdf.enabled unset/false): this DML commit stages no " +
            "row images, and changeFeed ranges crossing it will fail. Set " +
            "TBLPROPERTIES('graft.cdf.enabled'='true') to resume staging.")
    }
    on
  }

  /** Deletion-vector entries still LIVE under the new dir set: an entry
    * whose recorded dir bases all vanished (a COW rewrite replaced or
    * dropped every dir it could reference) matches nothing forever —
    * carrying it would keep the table on the dv read path (anti-join on
    * every read, DSv1's slower fallback) and inflate DESCRIBE DETAIL's
    * dv counters indefinitely. Driver-side set check, no I/O. Legacy
    * entries without recorded bases are kept (conservative).
    */
  protected def liveDvs(dvs: Seq[DvFile], newDirs: Seq[String]): Seq[DvFile] = {
    val bases = newDirs.map(d => new File(d).getName).toSet
    dvs.filter(d => d.bases.isEmpty || d.bases.exists(bases))
  }

  /** Rename a LOGICAL frame's anchor columns to their PHYSICAL names —
    * the single crossing every data-dir WRITE goes through. Non-anchor
    * columns (`__dir` and friends) pass through untouched. No-op (same
    * reference) for unmapped anchors.
    */
  protected def toPhysical(df: DataFrame,
      anchor: org.apache.spark.sql.types.StructType): DataFrame =
    if (!VersionedTable.isMapped(anchor)) df
    else {
      val byName = anchor.fields.map(f => f.name -> f).toMap
      df.select(df.columns.toIndexedSeq.map { c =>
        byName.get(c) match {
          case Some(f) => col(c).as(VersionedTable.physicalName(f))
          case None    => col(c)
        }
      }: _*)
    }

  /** Rename a PHYSICAL read frame's columns back to their LOGICAL names —
    * the single crossing every data-dir READ goes through. Non-anchor
    * columns pass through. No-op for unmapped anchors.
    */
  protected def toLogical(df: DataFrame,
      anchor: org.apache.spark.sql.types.StructType): DataFrame =
    if (!VersionedTable.isMapped(anchor)) df
    else {
      val byPhys = anchor.fields.map(f => VersionedTable.physicalName(f) -> f).toMap
      df.select(df.columns.toIndexedSeq.map { c =>
        byPhys.get(c) match {
          case Some(f) => col(c).as(f.name)
          case None    => col(c)
        }
      }: _*)
    }

  /** Remap a [[VersionedTable.DirFilter]]'s column names (used to turn
    * PHYSICAL-name filters pushed at a mapped scan back into the LOGICAL
    * names the manifest's stats/bloom lines speak).
    */
  protected def mapFilterCols(f: VersionedTable.DirFilter,
      m: Map[String, String]): VersionedTable.DirFilter = {
    import VersionedTable.{AnyOf, PointFilter, RangeFilter}
    f match {
      case RangeFilter(c, lo, hi) => RangeFilter(m.getOrElse(c, c), lo, hi)
      case PointFilter(c, v)      => PointFilter(m.getOrElse(c, c), v)
      case AnyOf(bs)              => AnyOf(bs.map(_.map(mapFilterCols(_, m))))
    }
  }

  /** On a table that has EVER been column-mapped (`graft.column.mapping`
    * in `_props`), fields WITHOUT a physical name (i.e. newly added by
    * this merge) get a fresh randomized one — `<name>_<token>` — so a
    * DROP + re-ADD of the same logical name binds to a brand-new physical
    * column and pre-drop files can never leak their old values into it.
    * Unmapped tables pass through untouched (physical = logical forever).
    */
  protected def withMintedPhysicalNames(root: String,
      schema: org.apache.spark.sql.types.StructType,
      existing: org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType = {
    if (!tableProperties(root).get(VersionedTable.ColumnMappingProp)
        .contains("true")) schema
    else {
      // only fields NEW relative to the current anchor are minted —
      // pre-existing unmapped fields' files already carry their logical
      // name as the physical name, which must stay untouched
      val known = existing.fieldNames.toSet
      org.apache.spark.sql.types.StructType(schema.fields.map { f =>
        if (known(f.name) ||
            f.metadata.contains(VersionedTable.PhysicalNameKey)) f
        else {
          val token = UUID.randomUUID().toString.take(8)
          val b = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(VersionedTable.PhysicalNameKey, s"${f.name}_$token")
            .build()
          f.copy(metadata = b)
        }
      })
    }
  }

  /** Parse one snapshot manifest. */
  def snapshot(root: String, version: Int): Snapshot =
      graft.BenchProbe.time("vt.manifest_parse") {
    val body = store.get(root, version)
      .getOrElse(throw new IllegalArgumentException(s"no such version $version at $root"))
    var parent = -1; var op = ""; var rows = 0L; var ms = 0L
    var schemaJson: Option[String] = None
    var cdfDir: Option[String] = None
    var cols = Seq.empty[String]; val dirs = Seq.newBuilder[String]
    val stats = Seq.newBuilder[DirStat]
    val blooms = Seq.newBuilder[DirBloom]
    val dvs = Seq.newBuilder[DvFile]
    val txns = Map.newBuilder[String, Long]
    val fstatsRefs = Map.newBuilder[String, String]
    body.linesIterator.foreach { line =>
      line.split("=", 2) match {
        case Array("parent", v)       => parent = v.toInt
        case Array("operation", v)    => op = v
        case Array("rows", v)         => rows = v.toLong
        case Array("committed_ms", v) => ms = v.toLong
        case Array("schema", v)       => cols = v.split(",").toSeq.filter(_.nonEmpty)
        case Array("schema_json", v)  => schemaJson = Some(v)
        case Array("cdf", v)          => cdfDir = Some(v)
        case Array("dir", v)          => dirs += v
        case Array("txn", v)          =>
          // appId|batchId, split at the LAST '|' (appIds are caller-chosen);
          // one line per writer app — every manifest carries ALL apps' marks
          val i = v.lastIndexOf('|')
          if (i > 0) txns += (v.substring(0, i) -> v.substring(i + 1).toLong)
        case Array("stats", v)        => v.split("\\|") match {
          case Array(d, c, mn, mx) => stats += DirStat(d, c, mn.toDouble, mx.toDouble)
          case _                   => () // malformed stats line: ignore (stats are advisory)
        }
        case Array("fstats", v)       => v.split("\\|") match {
          // legacy INLINE file-grain stats (pre-sidecar manifests): still
          // honored so retrofitted tables keep their pruning
          case Array(d, f, c, mn, mx) =>
            stats += DirStat(d, c, mn.toDouble, mx.toDouble, Some(f))
          case _                       => () // advisory, like stats
        }
        // per-dir file-grain stats SIDECAR pointer: the manifest stays
        // O(dirs) no matter how many files a fat commit landed — the
        // file-grain lines live once in `_fstats/<dirbase>-<tok>.fstats`
        // and every descendant manifest carries one pointer line
        case Array("fstatsf", v)      => v.split("\\|") match {
          case Array(d, p) => fstatsRefs += (d -> p)
          case _           => () // advisory
        }
        case Array("bloom", v)        => v.split("\\|") match {
          case Array(d, c, p) => blooms += DirBloom(d, c, p)
          case _              => () // malformed bloom line: ignore (advisory)
        }
        // dv lines are NOT advisory: a deletion vector the reader misses
        // would resurrect deleted rows, so a malformed line fails loudly
        case Array("dv", v)           => v.split("\\|") match {
          case Array(p, n)    => dvs += DvFile(p, n.toLong)
          case Array(p, n, b) =>
            dvs += DvFile(p, n.toLong, b.split(",").toSeq.filter(_.nonEmpty))
          case bad            => throw new IllegalStateException(
            s"malformed dv line in manifest v$version: ${bad.mkString("|")}")
        }
        case _                        => () // version= line, comments, unknown keys
      }
    }
    Snapshot(version, parent, op, rows, cols, dirs.result(), ms, stats.result(),
      blooms.result(), txns.result(), schemaJson, cdfDir, dvs.result(),
      fstatsRefs.result())
  } // vt.manifest_parse


  /** Version `v`'s schema anchor (column-mapping metadata included) — the
    * logical shape as of that commit, one manifest read.
    */
  def anchorAt(spark: SparkSession, root: String, v: Int):
      org.apache.spark.sql.types.StructType =
    snapshotSchema(spark, root, snapshot(root, v))

  /** All snapshots, oldest first. */
  def history(root: String): Seq[Snapshot] = {
    val vs = store.versions(root).toSet
    vs.toSeq.sorted.map(snapshot(root, _))
  }

  // ---------- manifest-log checkpointing (history summaries) ----------

  private def checkpointDir(root: String) = new File(root, "_checkpoint")

  private def checkpointInterval(root: String): Int =
    tableProperties(root).get(VersionedTable.CheckpointIntervalProp)
      .flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ > 0)
      .getOrElse(10)

  private def entryOf(s: Snapshot): VersionedTable.HistoryEntry =
    VersionedTable.HistoryEntry(s.version, s.parent, s.operation, s.rows,
      s.committedMs, s.dataDirs.size, s.cdfDir.isDefined)

  /** Newest `_checkpoint/v%05d` at or below `atMost`, parsed. */
  private def latestCheckpoint(root: String, atMost: Int):
      Option[(Int, Seq[VersionedTable.HistoryEntry])] = {
    val files = Option(checkpointDir(root).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("v"))
      .flatMap(f => scala.util.Try(f.getName.stripPrefix("v").toInt).toOption
        .map(_ -> f))
      .filter(_._1 <= atMost)
    if (files.isEmpty) None
    else {
      val (v, f) = files.maxBy(_._1)
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try {
        val entries = src.getLines().flatMap { line =>
          line.split("\\|") match {
            case Array(ver, par, op, rows, ms, nd, cdf) => Some(
              VersionedTable.HistoryEntry(ver.toInt, par.toInt, op,
                rows.toLong, ms.toLong, nd.toInt, cdf == "1"))
            case _ => None // tolerate future fields / torn lines: cache only
          }
        }.toList
        Some(v -> entries)
      } finally src.close()
    }
  }

  /** The commit log's per-version summaries, oldest first — checkpointed
    * prefix + parsed tail: a 1 000-commit table's DESCRIBE HISTORY reads
    * ONE checkpoint file + O(interval) tail manifests instead of 1 000
    * full manifests (Delta's `_last_checkpoint` shape). Versions whose
    * manifests vacuum dropped below a checkpoint keep their summary —
    * history survives manifest retention.
    */
  def historySummary(root: String): Seq[VersionedTable.HistoryEntry] = {
    val latest = latestVersion(root).getOrElse(return Seq.empty)
    val cp = latestCheckpoint(root, latest)
    val from = cp.map(_._1).getOrElse(0)
    val existing = store.versions(root).toSet
    val tail = (from + 1 to latest).filter(existing)
      .map(v => entryOf(snapshot(root, v)))
    cp.map(_._2.filter(_.version <= from)).getOrElse(Seq.empty) ++ tail
  }

  /** Write the `_checkpoint/v%05d` rollup for `version` (prior checkpoint
    * + tail — O(interval) manifest parses). Best-effort cache: failures
    * are swallowed by the caller, a racing writer's duplicate is
    * byte-equivalent, and the atomic rename keeps readers off torn files.
    */
  private def writeCheckpoint(root: String, version: Int): Unit = {
    val cp = latestCheckpoint(root, version - 1)
    val from = cp.map(_._1).getOrElse(0)
    val existing = store.versions(root).toSet
    val entries = cp.map(_._2.filter(_.version <= from)).getOrElse(Seq.empty) ++
      (from + 1 to version).filter(existing).map(v => entryOf(snapshot(root, v)))
    val body = entries.map(e =>
      s"${e.version}|${e.parent}|${e.operation}|${e.rows}|${e.committedMs}|" +
        s"${e.nDirs}|${if (e.hasCdf) "1" else "0"}").mkString("\n")
    checkpointDir(root).mkdirs()
    val tmp = File.createTempFile("ckpt", ".tmp", checkpointDir(root))
    java.nio.file.Files.write(tmp.toPath, body.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath,
      new File(checkpointDir(root), f"v$version%05d").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** A snapshot's UNION schema — the anchor every read path conforms to.
    * The manifest's `schema_json` answers exactly and with zero data I/O;
    * legacy manifests without it fall back to ONE footer read of the
    * newest dir (for append-only histories the latest commit's footer IS
    * the union; for a legacy table whose newest dir was dropped by DML
    * this fallback can narrow — which is precisely why the manifest now
    * persists the schema).
    */
  def snapshotSchema(spark: SparkSession, root: String,
      snap: Snapshot): org.apache.spark.sql.types.StructType =
    snap.schemaJson
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(spark.read
        .parquet(new File(root, snap.dataDirs.last).getPath).schema)

  /** [[snapshotSchema]] for a version (default: latest). The lightweight
    * schema probe of the SQL catalog — one manifest read, no file listing.
    */
  def tableSchema(spark: SparkSession, root: String,
      asOf: Option[Int] = None): org.apache.spark.sql.types.StructType = {
    val v = resolveVersion(root, asOf)
    snapshotSchema(spark, root, snapshot(root, v))
  }

  /** Commit `df` as the next version. `mode` is "append" (snapshot = parent
    * dirs + new dir) or "overwrite" (snapshot = new dir only); the
    * content-preserving `optimize` op is the maintenance verbs' own
    * ([[rewrite]]). Returns the committed version number; throws
    * [[VersionedTable.CommitConflictException]] if another writer claimed
    * the target version first — detected both up front (`expectedVersion`,
    * the CAS form: pass `latestVersion(root) + 1` as read at transaction
    * start) and at the conditional put (defense in depth against the
    * read-to-publish window). A losing writer can never
    * damage the winner's commit: its data lives under its own unique dir,
    * which is deleted on conflict (or vacuumed later if this JVM dies first).
    *
    * `statsCols` names columns whose per-dir min/max land in the manifest
    * (`stats=<dir>|<col>|<min>|<max>` lines, values rendered exactly —
    * longs/timestamps as micros, doubles via `Double.toString` round-trip,
    * STRINGS as their order-preserving 6-byte prefix image,
    * [[VersionedTable.strImage]] — so symbol ranges skip too).
    * They power [[read]]'s pruning: manifest-level data skipping, the Delta
    * data-skipping analogue with the stats in the commit log instead of a
    * sidecar — a pruned scan reads the manifest and the SURVIVING files
    * only, never a footer of a skipped dir. `commit` is [[stageDir]] (the
    * write plus the one measurement kernel, [[measureDirs]]) followed by
    * [[publish]]. Cost at commit: the write, O(files) footer reads for the
    * row count and per-file hulls (one small agg over the fresh dir only
    * when footers cannot prove them exact), and one bloom agg per
    * `bloomCols` column.
    */
  def commit(df: DataFrame, root: String, mode: String = "append",
      expectedVersion: Option[Int] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      bloomFpp: Double = 0.01,
      txn: Option[(String, Long)] = None): Int = {
    require(mode == "append" || mode == "overwrite", s"bad mode $mode")
    val parent = latestVersion(root)
    val version = parent.getOrElse(0) + 1
    expectedVersion.filter(_ != version)
      .foreach(e => throw new CommitConflictException(e))

    // The snapshot's UNION schema is resolved BEFORE the data write: an
    // append on a column-mapped table must land its files under the
    // anchor's PHYSICAL names (and a batch ADDING columns to a once-mapped
    // table mints fresh randomized physical names, so a dropped column's
    // old values can never resurface under a re-added logical name).
    val parentSnapAll = parent.map(snapshot(root, _))
    val parentSnap = parentSnapAll.filter(_ => mode == "append")
    val snapSchema = VersionedTable.asNullable(parentSnap
      .map { ps =>
        val pa = snapshotSchema(df.sparkSession, root, ps)
        withMintedPhysicalNames(root,
          VersionedTable.mergeSchemas(pa, df.schema), pa)
      }
      .getOrElse(df.schema))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

    // (1) data: an immutable dir unique to this ATTEMPT, measured by the
    // one skipping-metadata kernel. Racing writers and crashed retries each
    // write their own dir; only the manifest decides which one readers see.
    val (newDir, rows, newStats, newBlooms) = stageDir(df, root, version,
      statsCols, bloomCols, bloomFpp, snapSchema)

    val parentDirs = parentSnap.map(_.dataDirs).getOrElse(Seq.empty)
    val dirs = parentDirs :+ newDir
    val allStats = parentSnap.map(_.dirStats).getOrElse(Seq.empty) ++ newStats
    val allBlooms = parentSnap.map(_.dirBlooms).getOrElse(Seq.empty) ++ newBlooms
    // Every manifest carries EVERY writer app's high-water mark (parent's
    // marks + this commit's own, Delta checkpoint SetTransaction-style) —
    // so the LATEST manifest alone answers idempotence queries and vacuum
    // can never destroy a mark by dropping old manifests. Carried through
    // overwrites too: replacing the data does not forget who wrote it.
    val allTxns = parentSnapAll.map(_.txns).getOrElse(Map.empty) ++ txn.toMap

    // (2) log: the conditional put is the commit point. An APPEND carries
    // the parent's deletion vectors (its dirs ride along unchanged, so
    // their dv'd positions stay dead); an overwrite starts fresh.
    val allDvs = parentSnap.map(_.dvs).getOrElse(Seq.empty)
    try publish(root, version, parent.getOrElse(0), mode, rows,
      snapSchema.fieldNames.toSeq,
      dirs, allStats, allBlooms, allTxns, Some(snapSchema.json), None, allDvs,
      parentSnap.map(_.fstatsRefs).getOrElse(Map.empty))
    catch { case e: CommitConflictException =>
      // Lost the race: our dir and sidecars are unreferenced and can't hurt
      // anyone. Remove them now; if we crash before this line, vacuum reaps.
      data.deleteTree(root, newDir)
      newBlooms.foreach(b => data.deleteFile(root, b.path))
      throw e
    }
    version
  }

  /** Serialize a manifest and run it through the conditional put — the one
    * commit point every verb publishes through. Throws
    * [[VersionedTable.CommitConflictException]] on a lost race; the CALLER
    * owns cleanup of its unreferenced data dirs and sidecars.
    */
  private def publish(root: String, version: Int, parent: Int, mode: String,
      rows: Long, schemaCols: Seq[String], dirs: Seq[String],
      stats: Seq[DirStat], blooms: Seq[DirBloom],
      txns: Map[String, Long],
      schemaJson: Option[String] = None,
      cdfDir: Option[String] = None,
      dvs: Seq[DvFile] = Seq.empty,
      fstatsRefs: Map[String, String] = Map.empty): Unit = {
    // File-grain stats go to PER-DIR SIDECARS, never inline: an inline
    // fstats= line would be re-serialized by every descendant manifest
    // (appends carry the parent's stats wholesale), compounding manifest
    // size to O(total files) at streaming-sink commit rates. A sidecar is
    // written ONCE when the dir's stats are measured; every descendant
    // carries a single fstatsf= pointer per dir — manifests stay O(dirs).
    val (fileGrain, dirGrain) = stats.partition(_.file.isDefined)
    val newRefs = fileGrain.groupBy(_.dir).map { case (d, fs) =>
      val rel = s"_fstats/${new File(d).getName}-${UUID.randomUUID().toString.take(8)}.fstats"
      val os = data.create(root, rel)
      try {
        val w = new java.io.OutputStreamWriter(os, "UTF-8")
        fs.foreach(f => w.write(s"${f.file.get}|${f.col}|${f.min}|${f.max}\n"))
        w.flush()
      } finally os.close()
      d -> rel
    }
    val dirSet = dirs.toSet
    // carried pointers for still-live dirs; a dir re-measured THIS commit
    // takes its fresh sidecar
    val refs = fstatsRefs.filter { case (d, _) => dirSet(d) } ++ newRefs
    def dropNewSidecars(): Unit =
      newRefs.values.foreach(data.deleteFile(root, _))
    val body = new StringBuilder()
      .append(s"version=$version\n")
      .append(s"parent=$parent\n")
      .append(s"operation=$mode\n")
      .append(s"rows=$rows\n")
      .append(s"committed_ms=${nowMs()}\n")
      .append(s"schema=${schemaCols.mkString(",")}\n")
    // The snapshot's full UNION schema (StructType json, one line): the
    // schema anchor for readers. Without it the anchor falls back to the
    // NEWEST dir's footer — wrong after a delete/merge drops the newest
    // dir on an additively-evolved table (the last remaining dir can
    // predate the widest schema).
    schemaJson.foreach { j =>
      require(!j.contains("\n"), "schema json must be single-line")
      body.append(s"schema_json=$j\n")
    }
    // Row-level change images for this commit (DML only): the relative
    // dir holding (anchor columns + _change_type) — what changeFeed reads
    // instead of forcing subscribers into a wholesale resync.
    cdfDir.foreach(d => body.append(s"cdf=$d\n"))
    // Deletion vectors: this snapshot's live rows = dirs minus these
    // positions. Carried forward by every content-preserving commit;
    // reset by an overwrite, folded away by the rewrites that applied them.
    dvs.foreach { d =>
      val b = if (d.bases.isEmpty) "" else s"|${d.bases.mkString(",")}"
      body.append(s"dv=${d.path}|${d.rows}$b\n")
    }
    txns.toSeq.sortBy(_._1).foreach { case (appId, batchId) =>
      require(!appId.contains("\n"), "txn appId must be single-line")
      body.append(s"txn=$appId|$batchId\n")
    }
    dirs.foreach(d => body.append(s"dir=$d\n"))
    // dir-grain hulls drive dir admission; file-grain sidecar pointers
    // (fstatsf=) drop admission to FILE grain inside admitted dirs — the
    // Delta per-file-stats shape, so a fat append commit (one dir, many
    // files) still prunes tightly instead of coarsening to the dir hull
    dirGrain.foreach(s =>
      body.append(s"stats=${s.dir}|${s.col}|${s.min}|${s.max}\n"))
    refs.toSeq.sortBy(_._1).foreach { case (d, p) =>
      body.append(s"fstatsf=$d|$p\n") }
    blooms.foreach(b =>
      body.append(s"bloom=${b.dir}|${b.col}|${b.path}\n"))
    val won =
      try store.putIfAbsent(root, version, body.toString)
      catch { case e: Throwable => dropNewSidecars(); throw e }
    if (!won) {
      dropNewSidecars() // unreferenced by any manifest; reap immediately
      throw new CommitConflictException(version)
    }
    // every Nth commit rolls the history summary forward — a cheap,
    // best-effort cache (O(interval) tail parses + one small file);
    // losing it costs a longer DESCRIBE HISTORY walk, never correctness
    if (version % checkpointInterval(root) == 0)
      try writeCheckpoint(root, version)
      catch { case _: Throwable => () }
  }

  /** Read a snapshot (default: latest) — the one frame-returning read.
    * Only the manifest's dirs are read: orphan dirs from crashed commits
    * and vacuumed history are invisible. The frame is backed by a
    * [[org.apache.spark.sql.graft.ManifestFileIndex]], so predicates
    * Catalyst pushes at the scan — `read(...).filter(...)` or a SQL
    * `WHERE` over `graft_versioned(root)` — dismiss dirs (and files) from
    * the manifest's min/max stats and bloom sidecars at planning time,
    * with no engine-specific API at the call site. Only attribute-vs-
    * literal comparisons translate (see
    * [[org.apache.spark.sql.graft.ManifestScan.dirFiltersFrom]]):
    * `col("time") >= ts` prunes, `unix_micros(col("time")) >= n` does
    * not. The surviving predicates still reach the parquet reader as
    * row-group filters (the tiers compose). Skipped dirs are never
    * footer-read; nothing moves to the executors but the surviving files.
    *
    * Schema anchor: [[snapshotSchema]] (the manifest's persisted union
    * schema); older dirs missing a column serve nulls for it. A delete-all
    * snapshot reads as a schema-correct empty frame.
    */
  def read(spark: SparkSession, root: String, asOf: Option[Int] = None): DataFrame = {
    // Resolve the version ONCE and pin it for BOTH the dv set and the
    // FileIndex: resolving twice lets a commit land in between and pair
    // version v's dvs with v+N's dirs — a read corresponding to no
    // committed snapshot.
    val v = resolveVersion(root, asOf)
    val snap = snapshot(root, v)
    val (index, anchor) = scanIndex(spark, root, v, snap)
    // merge-on-read: deletion vectors fold in ON TOP of the pruning frame
    // — anchor-column predicates still push through the anti-join into
    // the FileIndex, so planning-time skipping and dvs compose. A
    // column-mapped snapshot scans under PHYSICAL names (the FileIndex
    // translates pushed physical filters back to the manifest's logical
    // stats — see scanIndex) and renames on top; pushdown crosses the
    // rename Project because Catalyst rewrites through aliases.
    val raw = applyDvs(spark, root, snap.dvs,
      org.apache.spark.sql.graft.ManifestScan.frame(spark, index,
        if (VersionedTable.isMapped(anchor))
          VersionedTable.physicalSchema(anchor)
        else anchor))
    toLogical(raw, anchor)
  }

  private def resolveVersion(root: String, asOf: Option[Int]): Int =
    asOf.orElse(latestVersion(root))
      .getOrElse(throw new IllegalArgumentException(s"empty versioned table at $root"))

  /** Schema-pinned frame over a SUBSET of a snapshot's dirs — the keep-read
    * primitive [[readAdmitted]] and the [[rewrite]] layouts share:
    * anchor columns in anchor order (missing columns null-filled by the
    * reader, zero footer I/O), deletion vectors folded, column-mapped
    * snapshots read under physical names and renamed back.
    */
  private def readDirs(spark: SparkSession, root: String,
      snap: Snapshot, dirs: Seq[String],
      anchor: org.apache.spark.sql.types.StructType): DataFrame =
    if (dirs.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        VersionedTable.logicalSchema(anchor))
    else if (VersionedTable.isMapped(anchor))
      toLogical(applyDvs(spark, root, snap.dvs,
        spark.read.schema(VersionedTable.physicalSchema(anchor))
          .parquet(dirs.map(d => new File(root, d).getPath): _*)), anchor)
    else applyDvs(spark, root, snap.dvs, spark.read.schema(anchor)
      .parquet(dirs.map(d => new File(root, d).getPath): _*))

  /** The rows of exactly the dirs a PREDICATE admits at the manifest's
    * skipping tiers (stats hulls + bloom sidecars) — the predicate run
    * through the SAME translation the planning-time scan and the DML
    * verbs use, so "what would a scoped OPTIMIZE rewrite?" and "what does
    * the scan prune?" can never disagree. NOTE: dirs the stats cannot
    * dismiss are served WHOLE (admission is dir-grain, conservative);
    * callers wanting row-exact filtering compose `.filter(predicate)` on
    * top — this frame exists for maintenance scoping and bounds probes.
    */
  def readAdmitted(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      asOf: Option[Int] = None): DataFrame = {
    val v = resolveVersion(root, asOf)
    val snap = snapshot(root, v)
    val anchor = snapshotSchema(spark, root, snap)
    readDirs(spark, root, snap,
      admittedDirs(root, snap, predicateFilters(spark, root, anchor, predicate)),
      anchor)
  }

  /** The manifest-governed FileIndex + union schema behind [[read]] —
    * shared with the `format("graft")` batch DataSource
    * ([[GraftTableProvider]]), which wraps the same index in a
    * `HadoopFsRelation` so `spark.read.format("graft").load(root)` prunes
    * identically.
    */
  def scanIndex(spark: SparkSession, root: String, asOf: Option[Int] = None):
      (org.apache.spark.sql.graft.ManifestFileIndex,
        org.apache.spark.sql.types.StructType) = {
    val v = resolveVersion(root, asOf)
    scanIndex(spark, root, v, snapshot(root, v))
  }

  private def scanIndex(spark: SparkSession, root: String, v: Int, snap: Snapshot):
      (org.apache.spark.sql.graft.ManifestFileIndex,
        org.apache.spark.sql.types.StructType) = {
    require(snap.dataDirs.nonEmpty || snap.schemaJson.isDefined,
      s"version $v has no data dirs")
    val anchor = snapshotSchema(spark, root, snap)
    val rootPath = new org.apache.hadoop.fs.Path(new File(root).toURI)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirFiles = graft.BenchProbe.time("vt.scan_listing") {
      snap.dataDirs.map { d =>
        val p = new org.apache.hadoop.fs.Path(new File(root, d).toURI)
        d -> fs.listStatus(p).filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
      }
    }
    // On a mapped snapshot the relation's pushed filters arrive under
    // PHYSICAL column names; the manifest's stats/bloom lines speak
    // LOGICAL — remap before the admission check (identity when unmapped).
    val physToLogical = anchor.fields
      .map(f => VersionedTable.physicalName(f) -> f.name)
      .filter { case (p, l) => p != l }.toMap
    def toLogicalFilters(filters: Seq[VersionedTable.DirFilter]) =
      if (physToLogical.isEmpty) filters
      else filters.map(mapFilterCols(_, physToLogical))
    val index = new org.apache.spark.sql.graft.ManifestFileIndex(
      rootPath, dirFiles,
      filters => admittedDirs(root, snap, toLogicalFilters(filters)),
      (dir, names, filters) =>
        admittedFiles(root, snap, dir, names, toLogicalFilters(filters)))
    (index, anchor)
  }

  /** The skipping kernel shared by [[readAdmitted]], the DML verbs and the
    * planning-time [[org.apache.spark.sql.graft.ManifestFileIndex]]: the subset of a
    * snapshot's data dirs at least one row of which MIGHT satisfy every
    * filter. Per dir, a [[VersionedTable.RangeFilter]] consults the
    * manifest min/max; a [[VersionedTable.PointFilter]] consults min/max
    * first (numeric probes) then the bloom sidecar — sidecars of
    * range-dismissed dirs are never opened. Strictly conservative: a dir
    * with no recorded stats/sidecar for a filter's column always survives.
    */
  def admittedDirs(root: String, snap: Snapshot,
      filters: Seq[VersionedTable.DirFilter]): Seq[String] = {
    import VersionedTable.{AnyOf, DirFilter, PointFilter, RangeFilter}
    // dir-grain hulls only: file-grain entries refine INSIDE a dir
    // (admittedFiles); folding them here would corrupt the dir hull
    val statsFor = snap.dirStats.filter(_.file.isEmpty)
      .map(s => (s.dir, s.col) -> s).toMap
    val bloomFor = snap.dirBlooms.map(b => (b.dir, b.col) -> b).toMap
    def admits(d: String, f: DirFilter): Boolean = f match {
      case RangeFilter(c, lo, hi) =>
        statsFor.get((d, c)).forall(s => s.max >= lo && s.min <= hi)
      case PointFilter(c, value) =>
        val inRange = value match {
          // a numeric point is a degenerate range: min/max can dismiss the
          // dir before its sidecar is ever opened
          case n: Number => statsFor.get((d, c)).forall(s =>
            s.max >= n.doubleValue() && s.min <= n.doubleValue())
          // a string point probes the prefix-image stats the same way
          // (sound: the image is order-preserving, see [[strImage]])
          case v: String =>
            val img = VersionedTable.strImage(v)
            statsFor.get((d, c)).forall(s => s.max >= img && s.min <= img)
          case _ => true
        }
        inRange && bloomFor.get((d, c)).forall(b => bloomMightContain(root, b, value))
      case AnyOf(branches) =>
        // an empty disjunction admits nothing is the WRONG conservative
        // direction — translation never emits one, but guard anyway
        branches.isEmpty || branches.exists(_.forall(admits(d, _)))
    }
    snap.dataDirs.filter(d => filters.forall(admits(d, _)))
  }

  /** FILE-grain admission inside one already-admitted dir: the subset of
    * `fileNames` whose per-file hulls (`fstats=` lines) might satisfy
    * every filter. Strictly conservative, like [[admittedDirs]]: a file
    * with no recorded stat for a filter's column survives, and a dir with
    * no file-grain stats at all returns every file — legacy manifests and
    * analyze-only tables pay nothing and lose nothing. Point probes use
    * the min/max hull only (blooms are per-DIR); dismissing a file a
    * sidecar would have admitted is impossible because hull checks are
    * necessary conditions on their own.
    */
  def admittedFiles(root: String, snap: Snapshot, dir: String,
      fileNames: Seq[String],
      filters: Seq[VersionedTable.DirFilter]): Seq[String] = {
    import VersionedTable.{AnyOf, DirFilter, PointFilter, RangeFilter}
    if (filters.isEmpty) return fileNames
    val fstats = fileGrainStats(root, snap, dir)
    if (fstats.isEmpty) return fileNames
    val statsFor = fstats.map(s => (s.file.get, s.col) -> s).toMap
    def admits(f: String, flt: DirFilter): Boolean = flt match {
      case RangeFilter(c, lo, hi) =>
        statsFor.get((f, c)).forall(s => s.max >= lo && s.min <= hi)
      case PointFilter(c, value) => value match {
        case n: Number => statsFor.get((f, c)).forall(s =>
          s.max >= n.doubleValue() && s.min <= n.doubleValue())
        case v: String =>
          val img = VersionedTable.strImage(v)
          statsFor.get((f, c)).forall(s => s.max >= img && s.min <= img)
        case _ => true
      }
      case AnyOf(branches) =>
        branches.isEmpty || branches.exists(_.forall(admits(f, _)))
    }
    fileNames.filter(f => filters.forall(admits(f, _)))
  }

  /** One dir's file-grain stats: legacy INLINE `fstats=` entries (from
    * pre-sidecar manifests) plus the dir's `_fstats` SIDECAR if the
    * manifest points at one. Sidecars are immutable (attempt-unique
    * names), so loads cache process-wide; a lost/torn sidecar line just
    * yields fewer hulls — strictly conservative, the affected files
    * survive admission. At scan time only dirs that SURVIVED dir-grain
    * admission are ever resolved, so a pruned-away fat dir costs nothing.
    */
  def fileGrainStats(root: String, snap: Snapshot, dir: String): Seq[DirStat] = {
    val inline = snap.dirStats.filter(s => s.dir == dir && s.file.isDefined)
    val fromSidecar = snap.fstatsRefs.get(dir).map { rel =>
      if (VersionedTable.fstatsCache.size > 65536)
        VersionedTable.fstatsCache.clear() // crude bound; misses only re-read
      VersionedTable.fstatsCache.getOrElseUpdate(s"$root/$rel",
        data.open(root, rel) match {
          case None => Seq.empty[DirStat]
          case Some(is) =>
            val raw = try scala.io.Source.fromInputStream(is, "UTF-8")
              .getLines().toList finally is.close()
            raw.flatMap(_.split("\\|") match {
              case Array(f, c, mn, mx) =>
                scala.util.Try(
                  DirStat(dir, c, mn.toDouble, mx.toDouble, Some(f))).toOption
              case _ => None
            })
        })
    }.getOrElse(Seq.empty)
    inline ++ fromSidecar
  }

  /** Deserialize a bloom sidecar; a lost sidecar is None (conservative —
    * callers treat None as "read the dir").
    */
  private def loadBloom(root: String,
      b: DirBloom): Option[org.apache.spark.util.sketch.BloomFilter] = {
    data.open(root, b.path).map { is =>
      try org.apache.spark.util.sketch.BloomFilter.readFrom(is)
      finally is.close()
    }
  }

  private def bloomProbe(bf: org.apache.spark.util.sketch.BloomFilter,
      value: Any): Boolean = value match {
    case s: String => bf.mightContainString(s)
    case n: Number => bf.mightContainLong(n.longValue())
    case other     => bf.mightContain(other)
  }

  /** Probe a bloom sidecar; a lost sidecar is conservative (read the dir). */
  private def bloomMightContain(root: String, b: DirBloom, value: Any): Boolean =
    loadBloom(root, b).forall(bloomProbe(_, value))

  /** Idempotent commit targeting a SPECIFIC version — the exactly-once
    * streaming sink primitive. Micro-batch N maps deterministically to
    * version N+1; an at-least-once replay of batch N finds its version
    * already committed and becomes a no-op. Returns true iff this call
    * committed (false = the version already existed — replay absorbed).
    */
  def idempotentCommit(df: DataFrame, root: String, version: Int,
      mode: String = "append", statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty, bloomFpp: Double = 0.01): Boolean = {
    if (store.get(root, version).isDefined) return false
    try {
      commit(df, root, mode, expectedVersion = Some(version),
        statsCols = statsCols, bloomCols = bloomCols, bloomFpp = bloomFpp)
      true
    }
    catch { case _: CommitConflictException => false }
  }

  /** Highest micro-batch id writer `appId` has committed to this table, or
    * None if it never has. O(1) metadata: every manifest carries every
    * app's mark forward (Delta checkpoint SetTransaction-style), so the
    * LATEST manifest alone answers — vacuum can drop any amount of history
    * without losing a mark, and idempotence needs no manifest walk.
    */
  def lastCommittedBatch(root: String, appId: String): Option[Long] =
    latestVersion(root).flatMap(v => snapshot(root, v).txns.get(appId))

  /** Transactional commit — Delta's `txn` action analogue, the primitive
    * under the `graft-versioned` streaming sink. Stamps the manifest with
    * `(appId, batchId)`; a replay of an already-committed batch is absorbed
    * (returns false), and a [[VersionedTable.CommitConflictException]] from
    * a FOREIGN writer racing the same version is retried after re-checking
    * the high-water mark — so interleaved writers with distinct appIds are
    * each exactly-once. Unlike [[idempotentCommit]]'s positional batch→
    * version mapping, this survives pre-seeded tables and any number of
    * interleaved foreign commits; and because every manifest carries every
    * app's mark forward, the check is O(1) on the latest manifest and no
    * vacuum schedule can destroy a mark.
    */
  def transactionalCommit(df: DataFrame, root: String, appId: String,
      batchId: Long, mode: String = "append",
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty, bloomFpp: Double = 0.01): Boolean =
    exactlyOnce(root, appId, batchId) { txn =>
      commit(df, root, mode, statsCols = statsCols, bloomCols = bloomCols,
        bloomFpp = bloomFpp, txn = Some(txn))
    }

  /** Transactional MERGE — [[transactionalCommit]]'s exactly-once protocol
    * over the [[merge]] upsert: stamps `(appId, batchId)` on the merge
    * manifest; an at-least-once redelivery of an already-merged batch is
    * absorbed (returns false, table untouched), and a conflict from a
    * FOREIGN writer racing the version is retried after re-checking the
    * high-water mark. This is the streaming-upsert sink primitive: a
    * `foreachBatch` that calls this per micro-batch gets exactly-once
    * key-level upserts into the versioned table — the reference's
    * idempotent feature-store MERGE (`spark/streaming_feature_updates.py`)
    * with the transaction point in the commit log instead of a warehouse.
    */
  def transactionalMerge(source: DataFrame, root: String, appId: String,
      batchId: Long, keyCol: String, cdf: Option[Boolean] = None): Boolean =
    exactlyOnce(root, appId, batchId) { txn =>
      merge(source.sparkSession, root, source, keyCol, Some(txn), cdf)
    }

  /** [[transactionalMerge]] over the merge-on-read kernel ([[mergeMor]]):
    * the exactly-once streaming-upsert sink for high-frequency batches —
    * each micro-batch commits O(batch + matched rows) (one deletion
    * vector + one source dir), never rewriting the dirs the batch's keys
    * touch. The dv set grows with every batch; schedule [[purgeDeletes]]
    * (or OPTIMIZE) as the maintenance valve. Same redelivery absorption
    * and foreign-conflict retry as the copy-on-write form.
    */
  def transactionalMergeMor(source: DataFrame, root: String, appId: String,
      batchId: Long, keyCol: String, cdf: Option[Boolean] = None): Boolean =
    exactlyOnce(root, appId, batchId) { txn =>
      mergeMor(source.sparkSession, root, source, keyCol, Some(txn), cdf)
    }

  /** Conflicts a `transactional*` commit absorbs before giving up. */
  private val maxRetries = 20

  /** The `transactional*` retry loop: absorb a batch `appId` already
    * committed (false), else run `attempt` with the `(appId, batchId)`
    * stamp, re-checking the high-water mark after each conflict lost to a
    * foreign writer — up to [[maxRetries]] times, then the conflict
    * propagates. True iff this call committed.
    */
  private def exactlyOnce(root: String, appId: String, batchId: Long)(
      attempt: ((String, Long)) => Unit): Boolean = {
    var conflicts = 0
    while (true) {
      if (lastCommittedBatch(root, appId).exists(_ >= batchId)) return false
      try {
        attempt((appId, batchId))
        return true
      } catch {
        case _: CommitConflictException if conflicts < maxRetries => conflicts += 1
      }
    }
    false // unreachable
  }

  /** Latest version committed at or before `tsMs` (wall-clock time travel:
    * `read(spark, root, versionAsOf(root, ts))`). None if the table's first
    * commit is later than `tsMs`.
    */
  def versionAsOf(root: String, tsMs: Long): Option[Int] = {
    // summaries, not full manifests (O(tail) past a checkpoint) — but
    // only versions whose manifests still EXIST are pickable: a summary
    // outliving its vacuumed manifest names a version nobody can read
    val existing = store.versions(root).toSet
    val eligible = historySummary(root)
      .filter(e => e.committedMs <= tsMs && existing(e.version))
    if (eligible.isEmpty) None else Some(eligible.map(_.version).max)
  }

  /** Roll the table back: ONE new manifest whose dirs, stats, bloom
    * sidecars, and schema anchor are exactly version `v`'s — a pure
    * metadata commit (`operation=restore`, zero rows moved, zero data
    * I/O), the `RESTORE TABLE t TO VERSION AS OF v` verb. History is
    * preserved: the bad versions stay readable between `v` and the
    * restore (a RESTORE, not a reset), auditable until vacuumed. The
    * CURRENT tip's transaction high-water marks are carried forward, not
    * the target's — an idempotent streaming sink must never see its
    * last-committed batch id regress because somebody rolled the data
    * back. Non-append for subscribers: a restore replaces the snapshot
    * wholesale, so change-feed consumers resync exactly as with
    * overwrite. Cost at 100 TB: two manifest reads + one manifest write.
    */
  def restore(spark: SparkSession, root: String, v: Int): Int = {
    val parent = latestVersion(root)
      .getOrElse(throw new IllegalArgumentException(s"empty versioned table at $root"))
    require(v >= 1 && v <= parent, s"cannot restore to version $v (history is 1..$parent)")
    if (v == parent) return parent // restoring the tip is a no-op
    val target = snapshot(root, v)
    val missing = (target.dataDirs ++ target.dvs.map(_.path))
      .filterNot(d => data.exists(root, d))
    require(missing.isEmpty,
      s"cannot restore to version $v: dirs vacuumed [${missing.mkString(",")}]")
    val version = parent + 1
    // schema anchor pinned even when the target manifest predates
    // schema_json (one footer read of the target's newest dir, once)
    val anchorJson = target.schemaJson
      .getOrElse(snapshotSchema(spark, root, target).json)
    publish(root, version, parent, "restore", 0L, target.schemaCols,
      target.dataDirs, target.dirStats, target.dirBlooms,
      snapshot(root, parent).txns, Some(anchorJson), None, target.dvs,
      target.fstatsRefs)
    version
  }

  /** Widen the table's schema by `newFields` (ALTER TABLE ADD COLUMNS):
    * ONE metadata-only commit (operation `evolve`, zero data moved) whose
    * manifest carries the widened union anchor. Every read path is
    * already anchor-pinned, so existing rows serve NULL for the new
    * columns immediately — the same additive-evolution discipline an
    * append with a wider frame gets, made available as a DDL verb.
    * Change subscriptions cross an evolve version as an empty delta
    * (nothing was added), like `analyze`. New fields are forced nullable:
    * history cannot retroactively satisfy a NOT NULL.
    */
  def addColumns(spark: SparkSession, root: String,
      newFields: Seq[org.apache.spark.sql.types.StructField]): Int = {
    require(newFields.nonEmpty, "no columns to add")
    val parent = latestVersion(root)
      .getOrElse(throw new IllegalArgumentException(s"empty versioned table at $root"))
    val snap = snapshot(root, parent)
    val anchor = snapshotSchema(spark, root, snap)
    val clash = newFields.map(_.name).filter(n =>
      anchor.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty, s"columns already exist: ${clash.mkString(",")}")
    // once-mapped tables mint RANDOMIZED physical names for added
    // columns — a re-ADD after DROP must never read the dropped column's
    // old values out of pre-drop files
    val widened = withMintedPhysicalNames(root, VersionedTable.asNullable(
      org.apache.spark.sql.types.StructType(
        anchor.fields ++ newFields.map(_.copy(nullable = true))))
      .asInstanceOf[org.apache.spark.sql.types.StructType], anchor)
    val version = parent + 1
    publish(root, version, parent, "evolve", 0L, widened.fieldNames.toSeq,
      snap.dataDirs, snap.dirStats, snap.dirBlooms, snap.txns,
      Some(widened.json), None, snap.dvs, snap.fstatsRefs)
    version
  }

  /** `ALTER TABLE t RENAME COLUMN old TO new` — pure metadata, zero data
    * movement: the column's PHYSICAL (on-disk) name is frozen at whatever
    * it already was (the logical name, for a never-mapped column) and the
    * manifest's anchor re-binds the LOGICAL name through
    * [[VersionedTable.PhysicalNameKey]] field metadata — Delta's column
    * mapping, re-expressed over this manifest grammar. Stats/bloom lines
    * (which speak logical names) are rewritten in the same manifest, so
    * planning-time skipping keeps biting under the new name. Time travel
    * is untouched: every older manifest pins its own anchor. The
    * reference's contract checker allows renames that preserve the wire
    * shape (`src/kafka/schema_compatibility.py:22-151`) — the mapping is
    * exactly that: the wire (physical) shape never changes.
    */
  def renameColumn(spark: SparkSession, root: String,
      oldName: String, newName: String): Int = {
    val parent = latestVersion(root)
      .getOrElse(throw new IllegalArgumentException(s"empty versioned table at $root"))
    val snap = snapshot(root, parent)
    val anchor = snapshotSchema(spark, root, snap)
    require(anchor.fieldNames.contains(oldName), s"no such column: $oldName")
    require(!anchor.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column already exists: $newName")
    val renamed = org.apache.spark.sql.types.StructType(anchor.fields.map { f =>
      if (f.name != oldName) f
      else {
        val phys = VersionedTable.physicalName(f)
        // renaming BACK to the physical name needs no mapping entry —
        // keeps a rename/rename-back round trip metadata-clean
        val b =
          if (phys == newName)
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .remove(VersionedTable.PhysicalNameKey).build()
          else new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(VersionedTable.PhysicalNameKey, phys).build()
        f.copy(name = newName, metadata = b)
      }
    })
    val version = parent + 1
    // File-grain SIDECARS speak the logical names of their write time, and
    // parent manifests share them — so a rename rewrites any sidecar that
    // mentions the column under a fresh attempt-unique name (old files
    // stay valid for time travel). O(#refs) small metadata files, only on
    // the rare rename commit; the fresh entries ride `stats` and publish
    // re-sidecars them, replacing the carried ref per dir.
    val renamedFstats = snap.fstatsRefs.keys.toSeq.sorted.flatMap { d =>
      val fs = fileGrainStats(root, snap, d).filterNot(_.col == oldName)
      val hit = fileGrainStats(root, snap, d).filter(_.col == oldName)
      if (hit.isEmpty) Seq.empty
      else fs ++ hit.map(_.copy(col = newName))
    }
    publish(root, version, parent, "rename", 0L, renamed.fieldNames.toSeq,
      snap.dataDirs,
      snap.dirStats.map(st => if (st.col == oldName) st.copy(col = newName) else st)
        ++ renamedFstats,
      snap.dirBlooms.map(b => if (b.col == oldName) b.copy(col = newName) else b),
      snap.txns, Some(renamed.json), None, snap.dvs, snap.fstatsRefs)
    // once mapped, always mapped: later ADD COLUMNS mint fresh physical
    // names (see withMintedPhysicalNames)
    setTableProperties(root, Map(VersionedTable.ColumnMappingProp -> "true"))
    version
  }

  /** `ALTER TABLE t DROP COLUMN(S)` — metadata-only: the fields leave the
    * anchor (and their stats/bloom lines leave the manifest); data files
    * stay byte-identical, their dropped physical columns simply never
    * selected again. Marks the table column-mapped so a later re-ADD of
    * the same logical name binds to a FRESH physical column (old values
    * cannot resurface). Time travel to pre-drop versions still serves the
    * column.
    */
  def dropColumns(spark: SparkSession, root: String,
      names: Seq[String]): Int = {
    require(names.nonEmpty, "no columns to drop")
    val parent = latestVersion(root)
      .getOrElse(throw new IllegalArgumentException(s"empty versioned table at $root"))
    val snap = snapshot(root, parent)
    val anchor = snapshotSchema(spark, root, snap)
    val missing = names.filterNot(anchor.fieldNames.contains)
    require(missing.isEmpty, s"no such columns: ${missing.mkString(",")}")
    require(anchor.fields.length > names.length,
      "cannot drop every column of a table")
    val dropSet = names.toSet
    val narrowed = org.apache.spark.sql.types.StructType(
      anchor.fields.filterNot(f => dropSet(f.name)))
    val version = parent + 1
    publish(root, version, parent, "drop", 0L, narrowed.fieldNames.toSeq,
      snap.dataDirs,
      snap.dirStats.filterNot(st => dropSet(st.col)),
      snap.dirBlooms.filterNot(b => dropSet(b.col)),
      snap.txns, Some(narrowed.json), None, snap.dvs, snap.fstatsRefs)
    setTableProperties(root, Map(VersionedTable.ColumnMappingProp -> "true"))
    version
  }

  /** SHALLOW CLONE: birth a NEW table at `dstRoot` from `srcRoot`'s
    * snapshot `asOf` (default: latest) without moving a byte of data
    * through the engine. Every data file (and bloom sidecar) is
    * HARDLINKED into the clone's root — O(files) inode metadata ops,
    * zero data I/O — and ONE manifest (version 1, operation `clone`)
    * carries the snapshot's dirs/stats/blooms/schema over verbatim. On an
    * object store the link step maps onto server-side copy (S3
    * CopyObject / GCS rewrite): still no bytes through the engine.
    *
    * Because each table then OWNS its file names, the two histories are
    * fully independent: vacuum or copy-on-write DML on either side can
    * never invalidate the other (unlinking one name leaves the shared
    * inode alive under the other) — the documented operational hazard of
    * pointer-based shallow clones, where vacuuming the source breaks
    * every clone, is structurally impossible here. Txn high-water marks
    * and CDF images do NOT carry over: the clone is a new table with
    * fresh history and no subscribers. Its version 1 feeds change
    * subscriptions exactly like a born-by-append table's first commit.
    */
  def cloneTo(spark: SparkSession, srcRoot: String, dstRoot: String,
      asOf: Option[Int] = None): Int = {
    val tip = latestVersion(srcRoot)
      .getOrElse(throw new IllegalArgumentException(s"empty versioned table at $srcRoot"))
    val v = asOf.getOrElse(tip)
    require(v >= 1 && v <= tip, s"cannot clone version $v (history is 1..$tip)")
    require(latestVersion(dstRoot).isEmpty,
      s"clone destination is not an empty table: $dstRoot")
    val snap = snapshot(srcRoot, v)
    val missing = (snap.dataDirs ++ snap.dvs.map(_.path))
      .filterNot(d => data.exists(srcRoot, d))
    require(missing.isEmpty,
      s"cannot clone version $v: dirs vacuumed [${missing.mkString(",")}]")
    // dv files ride the same link step: their `__file` identities are
    // table-RELATIVE ("dirBase/fileName"), so they keep matching the
    // linked data files in the clone's root
    (snap.dataDirs ++ snap.dirBlooms.map(_.path) ++ snap.dvs.map(_.path)
      ++ snap.fstatsRefs.values.toSeq)
      .foreach(rel => data.cloneTree(srcRoot, rel, dstRoot, rel))
    // schema anchor pinned even when the source manifest predates
    // schema_json (one footer read of the snapshot's newest dir, once)
    val anchorJson = snap.schemaJson
      .getOrElse(snapshotSchema(spark, srcRoot, snap).json)
    // Table properties travel with the clone (Delta CLONE copies source
    // table properties). Correctness-bearing: `graft.column.mapping` —
    // the clone's hardlinked files still physically carry every dropped
    // column's values, so a re-ADD on the clone MUST mint a fresh
    // physical name exactly as it would on the source; without the
    // marker, withMintedPhysicalNames binds physical=logical and the
    // dropped values resurface.
    val srcProps = tableProperties(srcRoot)
    if (srcProps.nonEmpty) setTableProperties(dstRoot, srcProps)
    // rows = per-commit delta convention; like restore, a metadata verb
    // reports 0 rather than paying a count scan
    publish(dstRoot, 1, 0, "clone", 0L, snap.schemaCols, snap.dataDirs,
      snap.dirStats, snap.dirBlooms, Map.empty, Some(anchorJson), None,
      snap.dvs, snap.fstatsRefs)
    1
  }

  /** Compact the latest snapshot into one fresh dir — a content-preserving
    * `optimize` commit (the OPTIMIZE analogue for a table fragmented by
    * many small appends), staged and published by the [[rewrite]] kernel
    * over every live dir. History stays readable until vacuumed; the new
    * version reads O(1) dirs instead of O(appends); change subscriptions
    * cross it as an empty delta (dataChange=false), never a resync; a
    * disjoint concurrent append rebases instead of aborting it.
    */
  def compact(spark: SparkSession, root: String,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty, bloomFpp: Double = 0.01): Int =
    rewrite(spark, root)((snap, _) => snap.dataDirs)(
      oneDir(spark, root, statsCols, bloomCols, bloomFpp)).merge

  /** ANALYZE for the versioned table: backfill data-skipping metadata —
    * per-dir min/max for `statsCols`, bloom sidecars for `bloomCols` — onto
    * the CURRENT snapshot's existing dirs, publishing a new manifest that
    * references the SAME data (operation `analyze`, zero rows moved). The
    * retrofit path for a table whose history predates its skipping needs:
    * filters over [[read]] start pruning immediately,
    * with no rewrite — where [[optimizeZorder]] re-clusters the physical layout,
    * `analyze` only measures it. Change-feed consumers skip analyze
    * versions as additive no-ops (nothing was added), so a subscription is
    * never broken by a metadata backfill.
    *
    * Measured by [[measureDirs]], like every fresh dir. Cost: O(files)
    * footer reads (plus ONE union-tagged agg job over the dirs whose
    * footers cannot prove exact, stats columns only) + one bloom agg per
    * (dir, bloomCol). Metadata-plane throughout: no data is copied.
    */
  def analyze(spark: SparkSession, root: String,
      statsCols: Seq[String],
      bloomCols: Seq[String] = Seq.empty, bloomFpp: Double = 0.01): Int = {
    require(statsCols.nonEmpty || bloomCols.nonEmpty, "nothing to analyze")
    val parent = latestVersion(root)
      .getOrElse(throw new IllegalArgumentException(s"empty versioned table at $root"))
    val version = parent + 1
    val snap = snapshot(root, parent)
    // the shared kernel over every live dir, pinned to the snapshot's
    // anchor (statsCols/bloomCols arrive logical, like every caller-facing
    // name); file-grain hulls give an existing fat-dir table file-grain
    // pruning with no rewrite
    val (_, stats, blooms) = measureDirs(spark, root,
      snap.dataDirs.map(d => (d, statsCols, bloomCols)),
      snapshotSchema(spark, root, snap), bloomFpp,
      UUID.randomUUID().toString.take(8))
    try {
      // ADDITIVE backfill: the parent's skipping metadata for columns NOT
      // named in this call is carried forward — an analyze("b") on a table
      // already indexed on "a" must never degrade a's pruning. Re-analyzed
      // columns take the fresh measurements wholesale.
      val keptStats = snap.dirStats.filterNot(s => statsCols.contains(s.col))
      // sidecar-held file-grain stats for OTHER columns must survive the
      // per-dir sidecar replacement the fresh measurements trigger
      val keptSidecarFstats = snap.fstatsRefs.keys.toSeq.sorted.flatMap(d =>
        fileGrainStats(root, snap, d)
          .filterNot(s => statsCols.contains(s.col) || s.file.isEmpty)
          .filterNot(keptStats.contains))
      val keptBlooms = snap.dirBlooms.filterNot(b => bloomCols.contains(b.col))
      publish(root, version, parent, "analyze", snap.rows, snap.schemaCols,
        snap.dataDirs, keptStats ++ keptSidecarFstats ++ stats,
        keptBlooms ++ blooms, snap.txns,
        snap.schemaJson, None, snap.dvs, snap.fstatsRefs)
      version
    } catch { case e: CommitConflictException =>
      blooms.foreach(b => data.deleteFile(root, b.path))
      throw e
    }
  }

  /** `OPTIMIZE ... ZORDER BY` for the versioned table: rewrite the scope as
    * `nDirs` data dirs CLUSTERED on the Morton interleave of
    * `(dimension, inclusiveDomainMax)` pairs ([[graft.operators.ZOrder]]),
    * each dir covering one contiguous z-range and carrying per-dir min/max
    * for `statsCols` (and optional bloom sidecars), published by the
    * [[rewrite]] kernel. A single-dir [[compact]] gives a filtered [[read]]
    * nothing to skip, and a linear sort clusters one dimension at the cost
    * of the others; after a Z rewrite EVERY dimension's stats are tight in
    * every dir, so point/range probes on any subset of the dims — the PIT
    * shape — prune to O(matching dirs). This is the object-store analogue
    * of the reference's composite index sets + per-day chunks
    * (`(symbol, time)`, `(symbol, time, trade_id)` dedup probes,
    * `sql/timescaledb_schema.sql:24,34-37`), produced by the standard
    * lakehouse OPTIMIZE job.
    *
    * Dimensions are NUMERIC long-valued expressions over the table's
    * columns (e.g. `unix_micros(col("time"))`, `col("symbol").cast("long")`)
    * with contractual inclusive domain maxima — deterministic scaling, no
    * sampled quantiles: each scales to 16 bits ([[graft.operators.ZOrder
    * .scaleTo16]]) and interleaves at stride N ([[graft.operators.ZOrder
    * .mortonN]]; 2-dim calls produce bit-identical codes to the original
    * Morton-16 path). Wide interleaves (N > 3) coarsen each dimension to
    * `62/N` bits — granularity, not soundness, is what narrows. The dims
    * drive the layout only and are not materialized.
    *
    * Scope: every live dir by default; with `where` (`OPTIMIZE t WHERE p`)
    * only the dirs the predicate's manifest translation admits — the SAME
    * stats/bloom admission the scan and the DML verbs use; with
    * `scopeDirs` a NAMED dir set (a maintenance policy's drift decision,
    * made from manifest metadata), intersected with the live dirs so a
    * policy computed against an older snapshot cannot resurrect a dir DML
    * replaced. Out-of-scope dirs are carried by name, files, stats and
    * blooms untouched — routine re-clustering of the hot range costs
    * O(that range), never O(table). Cost: ONE shuffle of the scope (hash
    * on the dir assignment — the code's top bits — so no sampling pass) +
    * a local sort per dir + the new dirs' stats from their footers.
    */
  def optimizeZorder(spark: SparkSession, root: String,
      dims: Seq[(org.apache.spark.sql.Column, Long)],
      nDirs: Int,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty, bloomFpp: Double = 0.01,
      where: Option[org.apache.spark.sql.Column] = None,
      scopeDirs: Option[Set[String]] = None): Int = {
    import graft.operators.ZOrder
    import org.apache.spark.sql.functions.shiftright
    require(nDirs > 0 && (nDirs & (nDirs - 1)) == 0,
      s"nDirs must be a power of two, got $nDirs")
    require(dims.nonEmpty, "need at least one ZORDER dimension")
    val codeBits = ZOrder.mortonBits(dims.size)
    require((1 << java.lang.Integer.numberOfTrailingZeros(nDirs)) == nDirs &&
      java.lang.Integer.numberOfTrailingZeros(nDirs) <= codeBits,
      s"nDirs=$nDirs exceeds the ${dims.size}-dim code space ($codeBits bits)")
    val shift = codeBits - java.lang.Integer.numberOfTrailingZeros(nDirs)
    val zcode = ZOrder.mortonN(dims.map { case (c, mx) => ZOrder.scaleTo16(c, mx) })
    rewrite(spark, root) { (snap, anchor) =>
      scopeDirs.map(_.toSeq).getOrElse(where.fold(snap.dataDirs)(p =>
        admittedDirs(root, snap, predicateFilters(spark, root, anchor, p))))
    } { (snap, anchor, dirs, version) =>
      // one partitioned write — dir-per-z-bucket, rows z-sorted within
      // each for row-group locality; buckets with no rows make no dir
      val laid = readDirs(spark, root, snap, dirs, anchor)
        .withColumn("__zcode", zcode)
        .withColumn("__zdir", shiftright(col("__zcode"), shift))
        .repartition(nDirs, col("__zdir"))
        .sortWithinPartitions("__zdir", "__zcode")
        .drop("__zcode")
      val (buckets, stats, blooms) = stagePartitioned(laid, root, version,
        "__zdir", anchor, bloomFpp)(_ => (statsCols, bloomCols))
      (buckets.map(_._2), stats, blooms)
    }.merge
  }

  /** Scoped compaction — `OPTIMIZE t WHERE p` without re-clustering: the
    * dirs the predicate admits collapse into ONE fresh dir (their
    * deletion vectors folded away in the rewrite), every dismissed dir is
    * carried by name with its stats/bloom lines verbatim — files
    * byte-identical, so routine small-file compaction of the hot range
    * prices at O(admitted dirs), never O(table). Publishes the
    * content-preserving `optimize` op: change-feed subscriptions cross it
    * as an empty delta. Proven-empty scope = no-op, no version burned
    * (returns the current version). The per-chunk maintenance analogue of
    * the reference's chunk-scoped compression policies
    * (`sql/timescaledb_schema.sql:28-31,60-65`).
    */
  def compactWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty, bloomFpp: Double = 0.01): Int =
    rewrite(spark, root)((snap, anchor) =>
      admittedDirs(root, snap, predicateFilters(spark, root, anchor, predicate)))(
      oneDir(spark, root, statsCols, bloomCols, bloomFpp)).merge

  /** The fragmented-dirs AUTO-SCOPE: collapse every data dir whose
    * on-disk footprint is below `maxBytes` into ONE fresh dir, carrying
    * the healthy dirs by name — the routine answer to "a streaming sink
    * appended 8 600 small commits today" that never rewrites the big
    * clustered dirs. Dir sizing is O(#dirs) filesystem metadata (the
    * DESCRIBE DETAIL walk), no data reads. No-op (current version
    * returned, nothing committed) below `minDirs` fragments — one small
    * dir is not fragmentation.
    */
  def compactSmallDirs(spark: SparkSession, root: String,
      maxBytes: Long = 32L << 20, minDirs: Int = 2,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty, bloomFpp: Double = 0.01): Int = {
    require(minDirs >= 2, "compacting fewer than 2 dirs moves data for nothing")
    rewrite(spark, root) { (snap, _) =>
      val small = snap.dataDirs.filter(d => data.sizeOfDir(root, d) < maxBytes)
      if (small.size < minDirs) Seq.empty else small
    }(oneDir(spark, root, statsCols, bloomCols, bloomFpp)).merge
  }

  /** What a maintenance layout staged: fresh data dirs, their dir- and
    * file-grain stats, and their bloom sidecars.
    */
  private type Staged = (Seq[String], Seq[DirStat], Seq[DirBloom])

  /** The one maintenance rewrite kernel behind [[compact]],
    * [[compactWhere]], [[compactSmallDirs]], [[optimizeZorder]] and
    * [[purgeDeletes]]. A verb supplies only a `scope` (the dirs to rewrite,
    * chosen from the parent snapshot and its anchor) and a `layout` (stages
    * the scope's live rows as fresh dirs under the anchor for the given
    * version through [[stageDir]] or [[stagePartitioned]], which remove
    * their own output when they fail). The kernel:
    *
    *   - resolves the parent version, its snapshot and schema anchor — the
    *     anchor (and any column mapping) governs every rewrite, full or
    *     scoped;
    *   - intersects the scope with the live dirs; a proven-empty scope
    *     with nothing to fold is a no-op, `Left(parent)`, no version
    *     burned;
    *   - lets the layout stage the scope (an empty scope stages nothing);
    *   - publishes through [[publishScopedRewrite]], the one rebasing
    *     commit point for operation `optimize` (rows=0), returning
    *     `Right(version)`;
    *   - deletes every staged dir and sidecar when the publish fails.
    *
    * Deletion vectors: every read a layout does folds the snapshot's dvs
    * in, so a rewrite of EVERY live dir folds every dv, and
    * `foldsEveryDv` (purge) says the layout applied them all; otherwise a
    * dv folds away only once every dir it recorded is rewritten
    * ([[liveDvs]]) — a dv with no recorded dirs is carried.
    */
  private def rewrite(spark: SparkSession, root: String,
      foldsEveryDv: Boolean = false)(
      scope: (Snapshot, org.apache.spark.sql.types.StructType) => Seq[String])(
      layout: (Snapshot, org.apache.spark.sql.types.StructType, Seq[String], Int) => Staged):
      Either[Int, Int] = {
    val parent = latestVersion(root)
      .getOrElse(throw new IllegalArgumentException(s"empty versioned table at $root"))
    val snap = snapshot(root, parent)
    val anchor = snapshotSchema(spark, root, snap)
    val scopeSet = scope(snap, anchor).toSet
    val dirs = snap.dataDirs.filter(scopeSet)
    val folded =
      if (foldsEveryDv || (dirs.nonEmpty && dirs.size == snap.dataDirs.size))
        snap.dvs.map(_.path).toSet
      else Set.empty[String]
    if (dirs.isEmpty && folded.isEmpty) return Left(parent)
    val (newDirs, stats, blooms) =
      if (dirs.isEmpty) (Seq.empty[String], Seq.empty[DirStat], Seq.empty[DirBloom])
      else layout(snap, anchor, dirs, parent + 1)
    try Right(publishScopedRewrite(root, parent, snap, dirs.toSet, newDirs,
      stats, blooms, anchor, folded))
    catch { case e: Throwable =>
      newDirs.foreach(data.deleteTree(root, _))
      blooms.foreach(b => data.deleteFile(root, b.path))
      throw e
    }
  }

  /** The compaction layout: the scope's live rows as ONE fresh
    * [[stageDir]] dir indexed on `statsCols`/`bloomCols`.
    */
  private def oneDir(spark: SparkSession, root: String,
      statsCols: Seq[String], bloomCols: Seq[String], bloomFpp: Double)(
      snap: Snapshot, anchor: org.apache.spark.sql.types.StructType,
      dirs: Seq[String], version: Int): Staged = {
    val (rel, _, stats, blooms) = stageDir(readDirs(spark, root, snap, dirs, anchor),
      root, version, statsCols, bloomCols, bloomFpp, anchor)
    (Seq(rel), stats, blooms)
  }

  /** The commit point of every content-preserving rewrite ([[rewrite]]:
    * `optimize` op, rows=0): `scopeSet`'s dirs are replaced by `newDirs`,
    * every other live dir is carried by name. Unlike a data commit, losing
    * the conditional put here must not mean starting the whole rewrite
    * over — on a 100 TB table with streaming appends landing every few
    * seconds, maintenance that aborts on ANY interleaved commit never
    * lands at all. Because the op is content-preserving over a NAMED dir
    * set, a lost race is mechanically rebasable exactly when the winner's
    * commits are provably disjoint from the scope:
    *
    *   - every scoped dir is still live at the new tip (dirs are immutable
    *     by name, so presence == byte-identical — no DML rewrote them),
    *   - the deletion vectors touching scoped dirs are IDENTICAL to the
    *     ones this rewrite folded in (a new dv on a scoped dir means a
    *     concurrent MOR delete this rewrite's output would resurrect),
    *   - the schema anchor is unchanged (a rename/drop re-keys the stats
    *     and bloom lines this publish carries).
    *
    * When all three hold, re-publish at the new tip carrying the WINNER's
    * dirs (its appends ride along untouched); otherwise abort loudly with
    * the conflict — the caller cleans up the staged dirs, and re-issuing
    * the maintenance op re-reads a fresh snapshot. Delta Lake's OPTIMIZE
    * resolves conflicts the same way (disjoint-file commits rebase,
    * overlapping ones fail). Bounded retries: each rebase is one manifest
    * read + one conditional put, never a data rewrite.
    */
  private[sources] def publishScopedRewrite(root: String, firstParent: Int,
      firstSnap: Snapshot, scopeSet: Set[String], newDirs: Seq[String],
      newStats: Seq[DirStat], newBlooms: Seq[DirBloom],
      anchor: org.apache.spark.sql.types.StructType,
      foldedDvPaths: Set[String],
      maxRebase: Int = 5): Int = {
    val scopeBases = scopeSet.map(d => new File(d).getName)
    // a dv with no recorded candidate dirs could cover anything: treat it
    // as scope-relevant (conservative — forces the loud abort)
    def scopedDvs(s: Snapshot): Set[(String, Long)] =
      s.dvs.filter(dv => dv.bases.isEmpty || dv.bases.exists(scopeBases))
        .map(dv => (dv.path, dv.rows)).toSet
    var parent = firstParent
    var snap = firstSnap
    var rebases = 0
    while (true) {
      val carried = snap.dataDirs.filterNot(scopeSet)
      val carriedSet = carried.toSet
      val allDirs = carried ++ newDirs
      try {
        // `foldedDvPaths` = dvs this rewrite already APPLIED into its
        // output (a purge or a whole-snapshot rewrite folds every one) —
        // they must not survive the publish; dvs a rebase WINNER added on
        // unscoped dirs ride along
        publish(root, parent + 1, parent, "optimize", 0L, anchor.fieldNames.toSeq,
          allDirs,
          snap.dirStats.filter(s => carriedSet(s.dir)) ++ newStats,
          snap.dirBlooms.filter(b => carriedSet(b.dir)) ++ newBlooms,
          snap.txns, Some(anchor.json), None,
          liveDvs(snap.dvs.filterNot(dv => foldedDvPaths(dv.path)), allDirs),
          snap.fstatsRefs)
        if (rebases > 0) VersionedTable.rebaseCount.addAndGet(rebases.toLong)
        return parent + 1
      } catch { case e: CommitConflictException =>
        rebases += 1
        if (rebases > maxRebase) throw e
        val tip = latestVersion(root).getOrElse(throw e)
        val tipSnap = snapshot(root, tip)
        val live = tipSnap.dataDirs.toSet
        if (!scopeSet.forall(live))
          throw new VersionedTable.ConcurrentScopeException(root,
            s"a concurrent commit rewrote scoped dir(s) " +
              s"${scopeSet.filterNot(live).toSeq.sorted.mkString(", ")} — " +
              "re-issue the maintenance op against the new snapshot")
        if (scopedDvs(tipSnap) != scopedDvs(firstSnap))
          throw new VersionedTable.ConcurrentScopeException(root,
            "a concurrent commit changed deletion vectors on scoped dirs — " +
              "re-issue the maintenance op against the new snapshot")
        if (tipSnap.schemaJson != firstSnap.schemaJson)
          throw new VersionedTable.ConcurrentScopeException(root,
            "a concurrent commit changed the schema anchor — " +
              "re-issue the maintenance op against the new snapshot")
        parent = tip
        snap = tipSnap
      }
    }
    -1 // unreachable
  }

  /** Write `df` as a fresh attempt-unique data dir under `anchor`'s
    * physical names and measure it with [[measureDirs]]: returns (dir,
    * row count, dir- and file-grain stats, bloom sidecars). Nothing
    * references the dir until the caller publishes; a failed write or
    * measurement removes it, and on a lost race the caller deletes it and
    * its sidecars. The staging primitive of [[commit]], compaction and the
    * DML paths.
    */
  private def stageDir(df: DataFrame, root: String, version: Int,
      statsCols: Seq[String], bloomCols: Seq[String], bloomFpp: Double,
      anchor: org.apache.spark.sql.types.StructType):
      (String, Long, Seq[DirStat], Seq[DirBloom]) = {
    dataDir(root).mkdirs()
    val token = UUID.randomUUID().toString.take(8)
    val dirRel = f"data/v$version%05d-$token"
    val (rows, stats, blooms) =
      try {
        graft.BenchProbe.time("vt.commit.write") {
          toPhysical(df, anchor).write.parquet(new File(root, dirRel).getPath)
        }
        measureDirs(df.sparkSession, root, Seq((dirRel, statsCols, bloomCols)),
          anchor, bloomFpp, token)
      } catch { case e: Throwable => data.deleteTree(root, dirRel); throw e }
    (dirRel, rows(dirRel), stats, blooms)
  }

  /** The one skipping-metadata kernel: measure data dirs — freshly written
    * by a commit, DML rewrite or OPTIMIZE, or existing ones an ANALYZE
    * backfills — each as `(dir, statsCols, bloomCols)`, all under the
    * schema `anchor` that governs their files. Returns per-dir row counts,
    * stats at dir AND file grain (the file hulls feed `fstats` sidecars,
    * the dir hull is their fold), and one bloom sidecar per (dir, bloom
    * column).
    *
    *   - Part files are listed once per dir.
    *   - Row counts and hulls come from the parquet FOOTERS first
    *     ([[FooterStats]]: O(files) metadata reads, exact or not at all).
    *   - Dirs whose footers cannot prove exact (INT96 timestamps, NaN
    *     hulls, a column a file lacks, ...) share ONE union-tagged agg
    *     grouped by (dir, file).
    *   - Every read-back is pinned to the anchor's physical schema and
    *     renamed to logical names: nothing infers a schema from footers,
    *     a dir predating a column reads it null-filled, and a zero-file
    *     dir reads as a schema-correct empty frame.
    *   - Sidecars are named `_blooms/<dirBase>-<token>-_<col>.bloom`:
    *     attempt-unique (a losing racer never clobbers a winner's sidecar,
    *     even when both measure the same existing dir) and prefixed by the
    *     dir name, which is how [[vacuum]] reaps them with their dir.
    *
    * Sidecars written before a failure are deleted before rethrowing;
    * after a successful return the caller owns them.
    */
  private def measureDirs(spark: SparkSession, root: String,
      dirs: Seq[(String, Seq[String], Seq[String])],
      anchor: org.apache.spark.sql.types.StructType, bloomFpp: Double,
      token: String): (Map[String, Long], Seq[DirStat], Seq[DirBloom]) = {
    val readSchema =
      if (VersionedTable.isMapped(anchor)) VersionedTable.physicalSchema(anchor)
      else anchor
    def readBack(d: String): DataFrame = toLogical(spark.read.schema(readSchema)
      .parquet(new File(root, d).getPath)
      .withColumn("__file", col("_metadata.file_name")), anchor)
    val physFor = anchor.fields
      .map(f => f.name -> VersionedTable.physicalName(f)).toMap
    val typeFor = anchor.fields.map(f => f.name -> f.dataType).toMap
    // bloom columns are hulled too: a column with no hull holds no
    // non-null value, and its sidecar is the empty filter (no agg job)
    val hullCols = dirs.map { case (d, sc, bc) => d -> (sc ++ bc).distinct }.toMap
    // per dir: (rows, file-grain hulls)
    val measured: Map[String, (Long, Seq[DirStat])] =
        graft.BenchProbe.time("vt.commit.stats") {
      // the context's live conf, NOT newHadoopConf(): footer reads only
      // READ the conf, and copying the full session conf per commit is
      // measurable at streaming-sink commit rates
      val footers = dirs.map { case (d, _, _) =>
        val files = data.list(root, d).filter(e => e.isFile &&
          e.name.endsWith(".parquet") && !e.name.startsWith(".") &&
          !e.name.startsWith("_")).map(_.name)
        d -> FooterStats.read(spark.sparkContext.hadoopConfiguration,
          new File(root, d), files, hullCols(d), physFor, typeFor)
      }
      val fromFooters = footers.collect { case (d, Some((n, fs))) =>
        d -> (n, fs.map(s => DirStat(d, s.col, s.min, s.max, Some(s.file))))
      }.toMap
      val fallback = footers.collect { case (d, None) => d }
      if (fallback.isEmpty) fromFooters
      else {
        val cols = fallback.flatMap(hullCols).distinct
        val tagged = fallback.map(d => readBack(d)
          .select(cols.map(col) :+ col("__file"): _*)
          .withColumn("__dir", lit(d))).reduce(_ union _)
        val aggs = cols.flatMap(c => Seq(
          min(statProbe(anchor(c).dataType, c)).as(s"__mn_$c"),
          max(statProbe(anchor(c).dataType, c)).as(s"__mx_$c")))
        val perFile = tagged.groupBy(col("__dir"), col("__file"))
          .agg(count(lit(1)).as("__n"), aggs: _*).collect().toSeq
        fromFooters ++ fallback.map { d =>
          val rs = perFile.filter(_.getAs[String]("__dir") == d)
          d -> (rs.map(_.getAs[Long]("__n")).sum, rs.flatMap { r =>
            hullCols(d).flatMap { c =>
              if (r.isNullAt(r.fieldIndex(s"__mn_$c"))) None // all-null file
              else Some(DirStat(d, c, toDouble(r.getAs[Any](s"__mn_$c")),
                toDouble(r.getAs[Any](s"__mx_$c")), Some(r.getAs[String]("__file"))))
            }
          })
        }
      }
    }
    // dir hull = fold of the file hulls; an all-null or empty dir has none
    val stats = dirs.flatMap { case (d, sc, _) =>
      val fs = measured(d)._2.filter(s => sc.contains(s.col))
      sc.flatMap { c =>
        val cs = fs.filter(_.col == c)
        if (cs.isEmpty) None
        else Some(DirStat(d, c, cs.map(_.min).min, cs.map(_.max).max))
      } ++ fs
    }
    // Bloom sidecars: equality skipping where min/max cannot help (a point
    // key intersects every dir's range). One distributed agg per (dir,
    // column), sized from the dir's row count. (r17 measured a single-pass
    // all-columns Catalyst aggregate here: its per-row interpreted update
    // was ~2x the per-column sketch's tight RDD fold — kept per column.)
    val written = Seq.newBuilder[DirBloom]
    try {
      dirs.foreach { case (d, _, bcols) =>
        lazy val dirDf = readBack(d) // a stats-only measurement never scans
        val (rows, hulls) = measured(d)
        bcols.foreach { c =>
          val n = math.max(rows, 1L)
          val bf =
            if (!hulls.exists(_.col == c))
              org.apache.spark.util.sketch.BloomFilter.create(n, bloomFpp)
            else graft.BenchProbe.time("vt.commit.bloom") {
              dirDf.stat.bloomFilter(c, n, bloomFpp)
            }
          val rel = s"_blooms/${new File(d).getName}-$token-_$c.bloom"
          val os = data.create(root, rel)
          written += DirBloom(d, c, rel)
          try bf.writeTo(os) finally os.close()
        }
      }
    } catch { case e: Throwable =>
      written.result().foreach(b => data.deleteFile(root, b.path))
      throw e
    }
    (measured.map { case (d, (n, _)) => d -> n }, stats, written.result())
  }

  /** Per-dir indexing discipline recorded in the parent snapshot — a
    * rewritten dir inherits exactly the stats/bloom columns its
    * predecessor carried, so DML never silently degrades skipping.
    */
  private def dirMetaCols(snap: Snapshot, d: String): (Seq[String], Seq[String]) =
    (snap.dirStats.filter(_.dir == d).map(_.col).distinct,
      snap.dirBlooms.filter(_.dir == d).map(_.col).distinct)

  /** Conform `df` to the snapshot's union schema `anchor`: every anchor
    * column present, anchor order, null-filled where the frame predates
    * the column. DML paths conform BEFORE classifying/rewriting, so
    * predicates and assignments over additively-evolved columns see every
    * dir (a dir older than an assigned column gets the assignment applied
    * on its null-filled image, not silently dropped).
    */
  private def conformTo(df: DataFrame,
      anchor: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(anchor.map(f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType).as(f.name)): _*)

  /** The manifest [[VersionedTable.DirFilter]]s a predicate would push at
    * a scan of this snapshot — translated against a FILELESS twin of the
    * scan relation (same anchor schema, empty file index), so DML
    * planning costs zero file listings: at 100 TB a DELETE's candidate
    * bounding reads ONE manifest, never O(files) metadata. The logical
    * optimizer still constant-folds the predicate before translation,
    * exactly as on the real scan.
    */
  private def predicateFilters(spark: SparkSession, root: String,
      anchor: org.apache.spark.sql.types.StructType,
      predicate: org.apache.spark.sql.Column): Seq[VersionedTable.DirFilter] = {
    val rootPath = new org.apache.hadoop.fs.Path(new File(root).toURI)
    val index = new org.apache.spark.sql.graft.ManifestFileIndex(
      rootPath, Seq.empty, _ => Seq.empty)
    val frame = org.apache.spark.sql.graft.ManifestScan.frame(spark, index, anchor)
    org.apache.spark.sql.graft.ManifestScan
      .translatedFilters(frame.filter(predicate))
  }

  /** The min/max probe matching the manifest stats grammar: micros for
    * timestamps, raw strings (image computed driver-side via
    * [[VersionedTable.strImage]]), double otherwise.
    */
  private def statProbe(dt: org.apache.spark.sql.types.DataType,
      c: String): org.apache.spark.sql.Column = dt match {
    case TimestampType => unix_micros(col(c))
    case StringType    => col(c)
    case _             => col(c).cast("double")
  }

  /** The table-relative identity of the data file a row came from —
    * "dirBase/fileName", the last two segments of `_metadata.file_path`.
    * This is the [[VersionedTable.DvFile]] `__file` grammar: no absolute
    * paths in dv files, so the identity survives a SHALLOW CLONE (links
    * preserve relative names) and a table move. Resolvable only on a
    * FILE-SOURCE frame (`_metadata` is the parquet reader's).
    */
  private def dvFileKey: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat_ws, element_at, split}
    val parts = split(col("_metadata.file_path"), "/")
    concat_ws("/", element_at(parts, -2), element_at(parts, -1))
  }

  /** One frame over a snapshot's deletion-vector files (schema-pinned —
    * [[VersionedTable.dvSchema]], no footer reads).
    */
  private def dvFrame(spark: SparkSession, root: String,
      dvs: Seq[DvFile]): DataFrame =
    spark.read.schema(VersionedTable.dvSchema)
      .parquet(dvs.map(d => new File(root, d.path).getPath): _*)

  /** Fold a snapshot's deletion vectors into a file-source frame: one
    * LEFT ANTI join on (file identity, `_metadata.row_index`). Below
    * [[VersionedTable.dvBroadcastMaxRows]] total positions the dv set
    * broadcasts — a narrow per-row hash probe, no shuffle of the table;
    * above it the join falls back to a shuffled anti-join (correct at any
    * size, and the signal to run [[purgeDeletes]]). A snapshot without
    * dvs pays NOTHING: the frame passes through untouched.
    */
  private def applyDvs(spark: SparkSession, root: String, dvs: Seq[DvFile],
      df: DataFrame): DataFrame =
    if (dvs.isEmpty) df
    else {
      val out = df.columns.toSeq
      val keyed = df
        .withColumn("__dv_file", dvFileKey)
        .withColumn("__dv_pos", col("_metadata.row_index"))
      val dv = dvFrame(spark, root, dvs)
      val side =
        if (dvs.map(_.rows).sum <= VersionedTable.dvBroadcastMaxRows) broadcast(dv)
        else dv
      keyed.join(side,
        keyed("__dv_file") === side("__file") && keyed("__dv_pos") === side("__pos"),
        "left_anti")
        .select(out.map(col): _*)
    }

  /** ONE frame over `dirs`, each row conformed to `anchor` and tagged with
    * its dir's BASENAME (`__dir`) — the input the DML paths classify and
    * rewrite with O(1) Spark jobs instead of a serial per-dir loop. A
    * filter on `__dir` constant-folds per union branch, so a downstream
    * rewrite restricted to the partially-matched dirs reads only them.
    * Every read is schema-PINNED on the anchor: no footer-inference job
    * per dir, and a dir predating an anchor column serves it null-filled
    * (parquet's missing-column contract) — the union schema for free.
    *
    * `dvs` (the snapshot's deletion vectors) are folded in per-branch —
    * DML over a merge-on-read table classifies LIVE rows only. With
    * `keepDvCols` the frame keeps each row's `__dv_file`/`__dv_pos`
    * identity — what the MOR verbs persist as new deletion vectors.
    */
  private def taggedUnion(spark: SparkSession, root: String, dirs: Seq[String],
      anchor: org.apache.spark.sql.types.StructType,
      dvs: Seq[DvFile] = Seq.empty,
      keepDvCols: Boolean = false): DataFrame = {
    val needDv = dvs.nonEmpty || keepDvCols
    // mapped anchors: read files under PHYSICAL names, tag (the dv
    // identity columns need _metadata off the raw scan), then rename —
    // every DML kernel downstream stays purely logical
    val readSchema =
      if (VersionedTable.isMapped(anchor)) VersionedTable.physicalSchema(anchor)
      else anchor
    val unioned = dirs.map { d =>
      val base = spark.read.schema(readSchema)
        .parquet(new File(root, d).getPath)
        .withColumn("__dir", lit(new File(d).getName))
      // dv identity columns FIRST (_metadata resolves only off the raw
      // file scan, not through the rename projection), rename after
      val keyed =
        if (!needDv) base
        else base.withColumn("__dv_file", dvFileKey)
          .withColumn("__dv_pos", col("_metadata.row_index"))
      toLogical(keyed, anchor)
    }.reduce(_ union _)
    val live =
      if (dvs.isEmpty) unioned
      else {
        val dv = dvFrame(spark, root, dvs)
        val side =
          if (dvs.map(_.rows).sum <= VersionedTable.dvBroadcastMaxRows) broadcast(dv)
          else dv
        unioned.join(side,
          unioned("__dv_file") === side("__file") && unioned("__dv_pos") === side("__pos"),
          "left_anti")
      }
    if (keepDvCols || dvs.isEmpty) live else live.drop("__dv_file", "__dv_pos")
  }

  /** Stage `df` as one fresh data dir per value of `partCol` in ONE Spark
    * write job — the one partitioned-staging step behind [[optimizeZorder]]'s
    * z-buckets and [[stageRewrites]]' per-dir replacements. The frame lands
    * under `anchor`'s physical names as a single `partitionBy(partCol)`
    * write into an attempt-unique staging tree (`data/.stage-<token>`);
    * each partition dir is promoted through the [[DataStore]] seam (local:
    * one rename; object model: copy+delete — legal either way because
    * nothing references it until a manifest publishes it) to
    * `data/v<version>-<token>-p<i>`, in value order (shorter first, so
    * integer buckets sort numerically). Every promoted dir is measured by
    * [[measureDirs]] with the stats/bloom columns `meta` names for its
    * partition value.
    *
    * Returns ((value, dir) in value order, stats, blooms). On ANY failure
    * — the write, a promote, the measurement — every promoted dir is
    * deleted before rethrowing; the staging tree is deleted in every case.
    * Cost: 1 write job + O(files) footer reads (plus 1 stats agg job over
    * the dirs whose footers cannot prove exact) + one bloom agg per
    * (dir, bloom column).
    */
  private def stagePartitioned(df: DataFrame, root: String, version: Int,
      partCol: String, anchor: org.apache.spark.sql.types.StructType,
      bloomFpp: Double)(meta: String => (Seq[String], Seq[String])):
      (Seq[(String, String)], Seq[DirStat], Seq[DirBloom]) = {
    val token = UUID.randomUUID().toString.take(8)
    val stagingRel = s"data/.stage-$token"
    val promoted = Seq.newBuilder[String]
    try {
      toPhysical(df, anchor).write.partitionBy(partCol)
        .parquet(new File(root, stagingRel).getPath)
      val parts = data.list(root, stagingRel)
        .filter(e => !e.isFile && e.name.startsWith(s"$partCol="))
        .map(_.name.stripPrefix(s"$partCol="))
        .sortBy(v => (v.length, v))
        .zipWithIndex.map { case (v, i) =>
          val rel = f"data/v$version%05d-$token-p$i%03d"
          data.promoteDir(root, s"$stagingRel/$partCol=$v", rel)
          promoted += rel
          v -> rel
        }
      val (_, stats, blooms) = measureDirs(df.sparkSession, root,
        parts.map { case (v, rel) => val (sc, bc) = meta(v); (rel, sc, bc) },
        anchor, bloomFpp, token)
      (parts, stats, blooms)
    } catch { case e: Throwable =>
      promoted.result().foreach(data.deleteTree(root, _))
      throw e
    } finally data.deleteTree(root, stagingRel)
  }

  /** Stage every partially-matched dir's replacement in ONE
    * [[stagePartitioned]] job: `rows` (conformed to `anchor`,
    * tagged with `__dir` basenames, `oldByBase` keys) partitions by
    * `__dir`, and every rewritten dir inherits its predecessor's stats/bloom
    * discipline. Returns (oldDirRel -> newDirRel, stats, blooms); the
    * caller deletes the new dirs (plus sidecars) if its publish fails.
    * Cost for K touched dirs: one write job, never O(K) count/rewrite jobs.
    */
  private def stageRewrites(rows: DataFrame,
      root: String, version: Int, snap: Snapshot,
      oldByBase: Map[String, String],
      anchor: org.apache.spark.sql.types.StructType, bloomFpp: Double):
      (Map[String, String], Seq[DirStat], Seq[DirBloom]) = {
    val (parts, stats, blooms) = stagePartitioned(rows, root, version,
      "__dir", anchor, bloomFpp)(b => dirMetaCols(snap, oldByBase.getOrElse(b,
        throw new IllegalStateException(s"unexpected partition $b"))))
    (parts.map { case (b, rel) => oldByBase(b) -> rel }.toMap, stats, blooms)
  }

  /** Stage a DML commit's row-level change images as their own parquet
    * dir (`_changes/v%05d-<token>`, Delta's `_change_data` shape): the
    * anchor columns + `_change_type` ∈ {insert, update_preimage,
    * update_postimage, delete}. Nothing references the dir until the
    * caller's manifest publishes a `cdf=` line; a failed write removes its
    * partial dir, and the caller deletes it if the commit fails later.
    * ONE write job, O(changed rows) — the price of serving
    * subscribers O(delta) instead of forcing an O(table) resync per DML
    * commit ([[VersionedTableOps.changeFeed]]).
    */
  private def stageChanges(changes: DataFrame, root: String, version: Int,
      anchor: org.apache.spark.sql.types.StructType): String = {
    val token = UUID.randomUUID().toString.take(8)
    val rel = f"_changes/v$version%05d-$token"
    // change images persist under PHYSICAL names, exactly like data dirs
    // (_change_type has no mapping and passes through) — one uniform
    // on-disk namespace per table, stable across renames
    try toPhysical(changes, anchor).write.parquet(new File(root, rel).getPath)
    catch { case e: Throwable => data.deleteTree(root, rel); throw e }
    rel
  }

  /** Stage a merge-on-read commit's deletion vector as its own parquet
    * dir (`_dv/v%05d-<token>`, schema [[VersionedTable.dvSchema]]) from a
    * frame carrying `__dv_file`/`__dv_pos` row identities (a
    * [[taggedUnion]] with `keepDvCols`). Nothing references the dir until
    * the caller's manifest publishes a `dv=` line; a failed write removes
    * its partial dir, and the caller deletes it if the commit fails later.
    * ONE write job, O(matched rows).
    */
  private def stageDv(hits: DataFrame, root: String, version: Int): String = {
    val token = UUID.randomUUID().toString.take(8)
    val rel = f"_dv/v$version%05d-$token"
    try hits.select(col("__dv_file").as("__file"), col("__dv_pos").as("__pos"))
      .write.parquet(new File(root, rel).getPath)
    catch { case e: Throwable => data.deleteTree(root, rel); throw e }
    rel
  }

  /** Bloom false-positive rate of every sidecar a DML commit writes. */
  private val dmlBloomFpp = 0.01

  /** Most distinct source keys a MERGE probes one by one against the
    * candidate dirs' bloom sidecars; a larger source keeps its hull-only
    * candidates.
    */
  private val maxProbeKeys = 10000

  /** A DML verb's part of a [[dml]] commit. The frames it sees are live
    * rows of the candidate dirs, conformed to the snapshot's union schema
    * and tagged with their dir's basename (`__dir`).
    *
    *   - `candidates`: the dirs that may hold rows the verb removes; every
    *     other dir is carried by name, its files never opened.
    *   - `mark`: adds the non-null boolean `__hit` — the row is removed.
    *   - `added`: the rows the commit lands, from the hit rows (None when
    *     nothing was hit).
    *   - `images`: the change images (anchor columns + `_change_type`),
    *     from the hit rows.
    *   - `landed`: manifest `rows=` of a verb that commits even when it
    *     hits nothing (MERGE: the source rows); None for the removing verbs,
    *     whose `rows=` is the hit count and whose no-hit call commits
    *     nothing.
    *   - `release`: frees what the plan cached, after the commit.
    */
  private final class DmlPlan(val op: String, val candidates: Seq[String],
      val mark: DataFrame => DataFrame,
      val added: Option[DataFrame] => Option[DataFrame],
      val images: Option[DataFrame] => DataFrame,
      val landed: Option[Long] = None,
      val release: () => Unit = () => ())

  /** The one DML commit kernel behind [[delete]], [[update]], [[merge]]
    * and their merge-on-read twins. It resolves the parent snapshot, asks
    * the verb for its [[DmlPlan]], and classifies the candidate dirs' live
    * rows ([[taggedUnion]], deletion vectors folded in). The storage
    * strategy decides only how removed rows are recorded:
    *
    *   - copy-on-write: ONE grouped classify job counts rows and hits per
    *     dir. Fully-hit dirs leave the manifest (their files stay for time
    *     travel until vacuum), partially-hit dirs' keep-rows land through
    *     ONE [[stageRewrites]] job, and dv entries whose dirs all vanished
    *     are dropped ([[liveDvs]]).
    *   - merge-on-read: the hit rows are counted, and their positions
    *     land as ONE deletion vector ([[stageDv]]) recording the candidate
    *     dirs; every dir is carried by name.
    *
    * The hit rows are cached once for the writes that read them. Then the
    * added rows land as ONE fresh dir ([[stageDir]]) indexed
    * under the table's discipline (the union of the parent's per-dir
    * stats/bloom columns), the change images as ONE `_changes` dir when
    * CDF is on ([[resolveCdf]]), and ONE manifest publishes it all. Every
    * staged artifact is registered the moment it exists and deleted on any
    * failure up to and including a lost publish; each stager removes its
    * own partial output when it fails. A removing verb that hits nothing
    * commits nothing (no version burned) and returns None; otherwise the
    * result is (version, rows hit).
    */
  private def dml(spark: SparkSession, root: String, mor: Boolean,
      cdf: Option[Boolean], txn: Option[(String, Long)] = None)(
      plan: (Snapshot, org.apache.spark.sql.types.StructType) => DmlPlan):
      Option[(Int, Long)] = {
    val doCdf = resolveCdf(root, cdf)
    val parent = latestVersion(root)
      .getOrElse(throw new IllegalArgumentException(s"empty versioned table at $root"))
    val version = parent + 1
    val snap = snapshot(root, parent)
    val anchor = snapshotSchema(spark, root, snap)
    val p = plan(snap, anchor)
    // every staged artifact, registered the moment it exists
    val dirs = Seq.newBuilder[String]
    val blooms = Seq.newBuilder[DirBloom]
    val newStats = Seq.newBuilder[DirStat]
    var cached: Option[DataFrame] = None
    try {
      if (p.candidates.isEmpty && p.landed.isEmpty)
        return None // skipping tiers proved a no-op
      val marked = if (p.candidates.isEmpty) None
        else Some(p.mark(taggedUnion(spark, root, p.candidates, anchor,
          snap.dvs, keepDvCols = mor)))
      // removal: (rows hit, hit rows, dropped dirs, rewritten dirs, dv)
      val none: (Long, Option[DataFrame], Set[String], Map[String, String],
        Option[DvFile]) = (0L, None, Set.empty, Map.empty, None)
      val (removed, hits, dropped, newByOld, dv) = marked match {
        case None => none
        case Some(m) if mor =>
          val h = m.filter(col("__hit")).cache()
          cached = Some(h)
          val n = h.count()
          if (n == 0L) none
          else {
            val rel = stageDv(h, root, version)
            dirs += rel
            (n, Some(h), Set.empty[String], Map.empty[String, String],
              Some(DvFile(rel, n, p.candidates.map(d => new File(d).getName))))
          }
        case Some(m) =>
          val classified = m.groupBy(col("__dir"))
            .agg(count(lit(1)), sum(when(col("__hit"), 1L).otherwise(0L)))
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          val oldByBase = p.candidates.map(d => new File(d).getName -> d).toMap
          val hitBases = classified.collect { case (b, _, k) if k > 0 => b }.sorted
          val partial = classified.collect { case (b, n, k) if k > 0 && k < n => b }.sorted
          val (rewritten, rwStats, rwBlooms) =
            if (partial.isEmpty)
              (Map.empty[String, String], Seq.empty[DirStat], Seq.empty[DirBloom])
            else stageRewrites(
              m.filter(col("__dir").isin(partial: _*)).filter(!col("__hit"))
                .select(anchor.map(f => col(f.name)) :+ col("__dir"): _*),
              root, version, snap, partial.map(b => b -> oldByBase(b)).toMap,
              anchor, dmlBloomFpp)
          dirs ++= rewritten.values
          blooms ++= rwBlooms
          newStats ++= rwStats
          val hit = classified.map(_._3).sum
          cached = if (hit == 0L) None
            else Some(m.filter(col("__dir").isin(hitBases: _*))
              .filter(col("__hit")).cache())
          (hit, cached,
            classified.collect { case (b, n, k) if k == n => oldByBase(b) }.toSet,
            rewritten, None)
      }
      if (removed == 0L && p.landed.isEmpty) return None // no version burned
      val addedDir = p.added(hits).map { df =>
        val (rel, _, st, bl) = stageDir(df, root, version,
          snap.dirStats.map(_.col).distinct, snap.dirBlooms.map(_.col).distinct,
          dmlBloomFpp, anchor)
        dirs += rel
        blooms ++= bl
        newStats ++= st
        rel
      }
      val cdfRel =
        if (!doCdf) None
        else {
          val rel = stageChanges(p.images(hits), root, version, anchor)
          dirs += rel
          Some(rel)
        }
      val newDirs = snap.dataDirs.flatMap { d =>
        if (dropped(d)) None else Some(newByOld.getOrElse(d, d))
      } ++ addedDir
      val keep = newDirs.toSet
      // manifest rows= records the commit's DELTA (append convention): the
      // rows a DELETE/UPDATE hit, the source rows a MERGE landed
      publish(root, version, parent, p.op, p.landed.getOrElse(removed),
        anchor.fieldNames.toSeq, newDirs,
        snap.dirStats.filter(s => keep(s.dir)) ++ newStats.result(),
        snap.dirBlooms.filter(b => keep(b.dir)) ++ blooms.result(),
        snap.txns ++ txn.toMap, Some(anchor.json), cdfRel,
        liveDvs(snap.dvs, newDirs) ++ dv, snap.fstatsRefs)
      Some((version, removed))
    } catch { case e: Throwable =>
      dirs.result().foreach(data.deleteTree(root, _))
      blooms.result().foreach(b => data.deleteFile(root, b.path))
      throw e
    } finally {
      cached.foreach(_.unpersist())
      p.release()
    }
  }

  /** Copy-on-write row-level DELETE — `DELETE FROM t WHERE p`, the Delta
    * shape re-expressed over the commit log, committed by the [[dml]]
    * kernel. The predicate is translated into
    * [[VersionedTable.DirFilter]]s by the SAME machinery the planning-time
    * scan uses ([[org.apache.spark.sql.graft.ManifestScan
    * .translatedFilters]]): dirs the manifest's min/max stats and bloom
    * sidecars dismiss provably hold no matching row and are CARRIED
    * FORWARD untouched — their files are never opened. Of the surviving
    * candidates, dirs with no actual matches carry forward too,
    * fully-matched dirs are dropped from the manifest (their files stay on
    * disk for time travel until vacuum), and only partially-matched dirs
    * are rewritten (keep-rows staged to a fresh attempt-unique dir
    * inheriting the dir's stats/bloom columns). ONE manifest publishes the
    * result atomically; with CDF on, the deleted rows are its
    * `_change_type=delete` images.
    *
    * SQL semantics: a row is deleted iff `predicate` evaluates TRUE —
    * NULL keeps the row. Returns the number of rows deleted; when no row
    * matches, NOTHING is committed and 0 is returned (a no-op DELETE does
    * not burn a version). Cost at 100 TB: one manifest read + ONE classify
    * job over the candidate dirs + ONE rewrite job over the
    * PARTIALLY-matched dirs — O(touched data), never O(table).
    */
  def delete(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      cdf: Option[Boolean] = None): Long =
    predicateDml(spark, root, predicate, None, mor = false, cdf)

  /** Copy-on-write row-level UPDATE — `UPDATE t SET c = expr WHERE p`,
    * committed by the [[dml]] kernel exactly like [[delete]] plus one
    * added dir: the predicate's translated [[VersionedTable.DirFilter]]s
    * bound the candidate dirs (stats/bloom-dismissed dirs carried by name,
    * never opened), fully-matched dirs are dropped, partially-matched dirs
    * are rewritten with their KEEP-rows only, and the matched rows'
    * post-images land as ONE fresh dir under the table's stats/bloom
    * discipline — the layout [[updateMor]] and both merges use. Each
    * assignment is cast back to the column's existing type (UPDATE never
    * mutates the schema); every new dir's skipping metadata is measured
    * fresh, so an update that moves a column's range keeps skipping
    * truthful. With CDF on, each matched row yields its pre-/post-image
    * pair.
    *
    * SQL semantics: a row is updated iff `predicate` is TRUE (NULL leaves
    * it untouched); assignments may reference any of the row's old
    * columns, evaluated against the PRE-update row. Returns rows updated;
    * a no-match update commits nothing. Cost: manifest + ONE classify job
    * + ONE keep-row rewrite job + ONE post-image write — O(touched data).
    */
  def update(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      cdf: Option[Boolean] = None): Long = {
    require(assignments.nonEmpty, "no assignments")
    predicateDml(spark, root, predicate, Some(assignments), mor = false, cdf)
  }

  /** Copy-on-write MERGE — whole-row upsert by key, the Delta
    * `MERGE WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
    * shape over the commit log, committed by the [[dml]] kernel: every
    * table row whose `keyCol` appears in `source` is replaced by the
    * source row; source rows with unseen keys are inserts. `source` must
    * be key-unique (checked — an ambiguous source is refused loudly, like
    * Delta's multiple-source-rows-match error) and carry the table's
    * columns.
    *
    * Candidate dirs are bounded by the source keys' hull and per-key bloom
    * probes ([[mergePlan]]) without ever shuffling the table; one
    * broadcast join marks matched rows, fully-matched dirs are dropped and
    * only partially-matched dirs are rewritten (their keep-rows, staged
    * fresh, inheriting the dir's stats/bloom columns). The source lands as
    * its own new dir indexed with the UNION of the parent snapshot's
    * stats/bloom disciplines; with CDF on, matched rows are pre-images and
    * source rows post-images or inserts. ONE manifest publishes
    * atomically, stamped with `txn` when given. Returns the new version.
    *
    * Cost at 100 TB: manifest + sidecar probes + ONE classify job over
    * the candidates + ONE rewrite job over the dirs that truly hold
    * matched keys + O(source) for the source dir — O(touched data +
    * delta), never O(table); the table is never shuffled.
    */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      keyCol: String, txn: Option[(String, Long)] = None,
      cdf: Option[Boolean] = None): Int =
    dml(spark, root, mor = false, cdf, txn)(mergePlan(root, source, keyCol)).get._1

  /** Merge-on-read DELETE — [[delete]]'s semantics at O(deleted rows)
    * commit cost: the [[dml]] kernel persists the matched rows' positions
    * as a DELETION VECTOR (`dv=` manifest line,
    * [[VersionedTable.DvFile]]) instead of rewriting partially-matched
    * dirs, and every data dir is CARRIED FORWARD untouched. Readers fold
    * the dv set in as one anti-join ([[applyDvs]]); time travel is exact
    * per version (each manifest lists exactly the dvs committed at or
    * before it). This is the Delta deletion-vector / Iceberg
    * positional-delete shape: the right verb when deletes are small and
    * scattered — a GDPR-style key delete on a 100 TB table commits
    * O(matched rows), not O(every touched dir's data). The read-side price
    * accumulates with the dv set; [[purgeDeletes]] (or any
    * OPTIMIZE/compaction) folds it back to zero.
    *
    * Same SQL semantics, candidate bounding and CDF images as [[delete]];
    * rows already dv'd by earlier MOR commits can never match twice (the
    * classify frame is live-rows-only). Returns rows deleted; a no-match
    * DELETE commits nothing.
    */
  def deleteMor(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      cdf: Option[Boolean] = None): Long =
    predicateDml(spark, root, predicate, None, mor = true, cdf)

  /** Merge-on-read UPDATE — [[update]]'s semantics at O(updated rows)
    * commit cost: the [[dml]] kernel lands the matched rows' positions in
    * a deletion vector and their post-assignment images as ONE fresh dir
    * (indexed under the table's stats/bloom discipline), and carries every
    * existing dir forward untouched. Assignments, casts and CDF images are
    * exactly the copy-on-write twin's. Returns rows updated; a no-match
    * UPDATE commits nothing.
    */
  def updateMor(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      cdf: Option[Boolean] = None): Long = {
    require(assignments.nonEmpty, "no assignments")
    predicateDml(spark, root, predicate, Some(assignments), mor = true, cdf)
  }

  /** Merge-on-read MERGE — [[merge]]'s whole-row upsert contract at
    * O(source + matched rows) commit cost: the [[dml]] kernel lands
    * matched table rows' positions in a deletion vector and the source as
    * ONE fresh dir (its rows are the post-images and the inserts), and
    * rewrites or drops NO existing dir — where the copy-on-write twin
    * rewrites every partially-matched dir, this commits O(delta)
    * regardless of how many dirs the keys touch. The continuous-upsert
    * shape: a streaming silver table maintained by per-batch merges pays
    * O(batch) per commit, and its CDF subscribers the same. Same candidate
    * bounding, key-uniqueness check, CDF images and txn stamping as
    * [[merge]]. Returns the new version.
    */
  def mergeMor(spark: SparkSession, root: String, source: DataFrame,
      keyCol: String, txn: Option[(String, Long)] = None,
      cdf: Option[Boolean] = None): Int =
    dml(spark, root, mor = true, cdf, txn)(mergePlan(root, source, keyCol)).get._1

  /** DELETE (no `assignments`) or UPDATE through [[dml]]: candidates are
    * the dirs the predicate's translated [[VersionedTable.DirFilter]]s
    * admit ([[predicateFilters]] — one manifest, zero file listings), a
    * row is hit iff the predicate is TRUE, and UPDATE adds the hit rows'
    * post-images. Returns rows hit (0 = nothing committed).
    */
  private def predicateDml(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Option[Map[String, org.apache.spark.sql.Column]],
      mor: Boolean, cdf: Option[Boolean]): Long =
    dml(spark, root, mor, cdf) { (snap, anchor) =>
      assignments.foreach { a =>
        val unknown = a.keySet.diff(anchor.fieldNames.toSet)
        require(unknown.isEmpty,
          s"assignments target unknown columns: ${unknown.mkString(",")}")
      }
      val row = anchor.map(f => col(f.name))
      // the post-image: assignments over the PRE-update row, cast back to
      // the column's anchor type
      val post = anchor.map { f =>
        assignments.flatMap(_.get(f.name)) match {
          case Some(a) => a.cast(f.dataType).as(f.name)
          case None    => col(f.name)
        }
      }
      new DmlPlan(if (assignments.isEmpty) "delete" else "update",
        admittedDirs(root, snap, predicateFilters(spark, root, anchor, predicate)),
        mark = _.withColumn("__hit", coalesce(predicate, lit(false))),
        added = hits => assignments.flatMap(_ => hits.map(_.select(post: _*))),
        images = hits =>
          if (assignments.isEmpty)
            hits.get.select(row: _*).withColumn("_change_type", lit("delete"))
          else hits.get.select(inline(array(
            struct(row :+ lit("update_preimage").as("_change_type"): _*),
            struct(post :+ lit("update_postimage").as("_change_type"): _*)))))
    }.map(_._2).getOrElse(0L)

  /** MERGE's part of a [[dml]] commit. The source is conformed to the
    * anchor, cached for the commit, and checked key-unique and non-empty.
    * Candidate dirs compose the two skipping tiers: the source keys'
    * [min, max] hull prunes on the manifest's min/max stats, then — when
    * the source's distinct keys fit [[maxProbeKeys]] — each surviving
    * dir's bloom sidecar on `keyCol` is probed per key, dismissing dirs
    * that share the hull but none of the keys. Rows are hit through ONE
    * broadcast left join against the (key-unique) source keys, which marks
    * matches without multiplying rows. The source is the added dir; its
    * rows are post-images where the key was hit and inserts elsewhere.
    */
  private def mergePlan(root: String, source: DataFrame, keyCol: String)(
      snap: Snapshot, anchor: org.apache.spark.sql.types.StructType): DmlPlan = {
    require(snap.schemaCols.toSet == source.columns.toSet,
      s"source columns ${source.columns.mkString(",")} must match table schema " +
        snap.schemaCols.mkString(","))
    val src = conformTo(source, anchor).cache()
    try {
      // Key hull in the STATS' numeric image (micros for timestamps,
      // STRINGS via their order-preserving prefix image — commit's exact
      // formula, see [[VersionedTable.strImage]] — double otherwise): a
      // hull in a different unit would dismiss dirs that DO hold matched
      // keys. String min/max travel as raw strings and take the image
      // driver-side, so string-keyed merges with small sources get the
      // same tier-1 dismissals numeric keys do; prefix ties only ever
      // ADMIT extra dirs (conservative), and the bloom tier still probes
      // the survivors.
      val keyProbe = src.schema(keyCol).dataType match {
        case TimestampType                             => unix_micros(col(keyCol))
        case _: org.apache.spark.sql.types.NumericType => col(keyCol).cast("double")
        case StringType                                => col(keyCol)
        case _                                         => lit(null).cast("double")
      }
      val srcAgg = src.agg(count(lit(1)), countDistinct(col(keyCol)),
        min(keyProbe), max(keyProbe)).head()
      val (srcRows, srcKeys) = (srcAgg.getLong(0), srcAgg.getLong(1))
      require(srcRows == srcKeys,
        s"merge source is not key-unique on $keyCol: $srcRows rows, $srcKeys keys")
      require(srcRows > 0, "empty merge source")
      // Tier 1: the key hull vs manifest min/max.
      val hull =
        if (srcAgg.isNullAt(2)) Seq.empty
        else Seq(VersionedTable.RangeFilter(keyCol,
          toDouble(srcAgg.get(2)), toDouble(srcAgg.get(3))))
      val inHull = admittedDirs(root, snap, hull)
      // Tier 2: per-key bloom probes, budget-capped (sidecars are tiny and
      // driver-local; dirs without a sidecar on keyCol always survive).
      val bloomFor = snap.dirBlooms.filter(_.col == keyCol).map(b => b.dir -> b).toMap
      val candidates =
        if (srcKeys > maxProbeKeys || bloomFor.isEmpty) inHull
        else {
          val keys = src.select(col(keyCol)).collect().map(_.get(0))
          inHull.filter { d =>
            bloomFor.get(d).forall { b =>
              // load the sidecar ONCE, probe every key in memory
              loadBloom(root, b).forall(bf => keys.exists(k => bloomProbe(bf, k)))
            }
          }
        }
      val row = anchor.map(f => col(f.name))
      new DmlPlan("merge", candidates,
        mark = _.join(broadcast(src.select(col(keyCol), lit(true).as("__m"))),
          Seq(keyCol), "left")
          .withColumn("__hit", col("__m").isNotNull).drop("__m"),
        added = _ => Some(src),
        images = {
          case None =>
            src.select(row: _*).withColumn("_change_type", lit("insert"))
          case Some(hits) =>
            val matched = hits.select(row: _*)
            val matchedKeys = matched.select(col(keyCol)).distinct()
            matched.withColumn("_change_type", lit("update_preimage"))
              .unionByName(src
                .join(broadcast(matchedKeys.withColumn("__m", lit(1))),
                  Seq(keyCol), "left")
                .select(row :+ when(col("__m").isNotNull, "update_postimage")
                  .otherwise("insert").as("_change_type"): _*))
        },
        landed = Some(srcRows),
        release = () => src.unpersist())
    } catch { case e: Throwable => src.unpersist(); throw e }
  }

  /** Fold every deletion vector back into the data, through the
    * [[rewrite]] kernel: the scope is the dirs the dv set actually touches
    * (the distinct dir prefix of the dv'd file identities, intersected with
    * the snapshot — stale entries for dirs a later COW rewrite dropped
    * admit nothing), their live rows are staged fresh by [[stageRewrites]]
    * (each dir inheriting its stats/bloom discipline; a dir with zero live
    * rows emits no partition and leaves the manifest, its files kept for
    * time travel), and ONE `operation=optimize` manifest publishes with an
    * EMPTY dv list. When every entry is stale the scope is empty and the
    * purge is exactly the commit that clears the dead state: the
    * snapshot's dirs by name, no dvs. Content is preserved by construction
    * — the new snapshot's live rows equal the parent's — so change
    * subscriptions cross the purge as an empty delta (dataChange=false),
    * never a resync, and a purge racing a disjoint append rebases (a dv the
    * winner added on an unscoped dir rides along; one on a scoped dir
    * aborts loudly). Returns the new version, or None when the table has
    * no dvs (no version burned).
    *
    * This is the maintenance valve for merge-on-read tables: MOR DML
    * keeps commits O(delta) and lets the read-side anti-join cost
    * accumulate; purge pays O(dv'd dirs) ONCE to reset it. Cost at
    * 100 TB: one small distinct over the dv files + one rewrite job over
    * the touched dirs — never O(table) unless every dir is dv'd.
    */
  def purgeDeletes(spark: SparkSession, root: String,
      bloomFpp: Double = 0.01): Option[Int] =
    rewrite(spark, root, foldsEveryDv = true) { (snap, _) =>
      if (snap.dvs.isEmpty) Seq.empty
      else {
        val dvBases = dvFrame(spark, root, snap.dvs)
          .select(org.apache.spark.sql.functions
            .split(col("__file"), "/").getItem(0).as("__d"))
          .distinct().collect().map(_.getString(0)).toSet
        snap.dataDirs.filter(d => dvBases(new File(d).getName))
      }
    } { (snap, anchor, dirs, version) =>
      val (newByOld, stats, blooms) = stageRewrites(
        taggedUnion(spark, root, dirs, anchor, snap.dvs), root, version, snap,
        dirs.map(d => new File(d).getName -> d).toMap, anchor, bloomFpp)
      (dirs.flatMap(newByOld.get), stats, blooms)
    }.toOption

  /** Change feed: rows ADDED between `fromVersion` (exclusive) and
    * `toVersion` (inclusive) — the input of O(delta) incremental
    * maintenance. Valid only across append commits: an overwrite in the
    * range replaces the snapshot wholesale (its delta is not additive), so
    * it fails loudly rather than feeding a consumer rows that were also
    * retracted. Reads ONLY the dirs the range added — cost is O(delta),
    * never O(table).
    */
  def changes(spark: SparkSession, root: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion >= 0 && toVersion > fromVersion,
      s"bad change range ($fromVersion, $toVersion]")
    val snaps = (fromVersion + 1 to toVersion).map(snapshot(root, _))
    // `analyze`/`evolve` versions reference the SAME dirs (backfilled
    // skipping metadata / a widened schema anchor); `optimize` replaces
    // the layout with IDENTICAL content (Delta's dataChange=false);
    // `rename`/`drop` move only the schema anchor (zero rows, files
    // byte-identical — the range-final anchor below serves every slice
    // under the final logical names via stable physical identity) —
    // additive no-ops for a consumer, never a reason to break a
    // subscription. `clone` is only ever a table's version 1 (its birth):
    // the whole snapshot IS the delta, same as a born-by-append table.
    // Anything else non-append is a wholesale replacement.
    snaps.filter(s => !Set("append", "analyze", "clone", "evolve", "optimize",
        "rename", "drop").contains(s.operation)) match {
      case bad if bad.nonEmpty =>
        throw new IllegalArgumentException(
          s"change feed crosses non-append versions ${bad.map(_.version).mkString(",")}: " +
            "an overwrite replaces the snapshot; re-derive consumers from it")
      case _ => ()
    }
    // PER-VERSION deltas, not a range-level dir-set difference: an
    // optimize inside the range swaps every dir name while adding zero
    // rows, so the range's delta is the union of each APPEND's own added
    // dirs (an append's original dirs stay readable until vacuumed even
    // after a later optimize drops them from the tip snapshot).
    val added = snaps.flatMap { s =>
      s.operation match {
        case "append" | "clone" =>
          val prev =
            if (s.version == 1) Set.empty[String]
            else snapshot(root, s.version - 1).dataDirs.toSet
          s.dataDirs.filterNot(prev)
        case _ => Seq.empty // analyze/evolve/optimize: content-preserving
      }
    }
    if (added.isEmpty) {
      // a pure-metadata range (analyze only): the delta is legitimately
      // empty — serve schema-correct emptiness on the snapshot's anchor
      val anchor = snapshotSchema(spark, root, snaps.last)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        VersionedTable.logicalSchema(anchor))
    }
    // Same additive-evolution discipline as read(): a range spanning a
    // schema-widening commit must surface the union schema (the final
    // snapshot's anchor), not let one arbitrary footer win and silently
    // drop the new columns from the feed. Manifest-pinned when persisted;
    // legacy fallback = footer mergeSchema. Column-mapped anchors read
    // under PHYSICAL names (stable across renames — a pre-rename dir
    // serves the renamed column by its physical identity) and rename.
    val paths = added.map(d => new File(root, d).getPath)
    snaps.last.schemaJson match {
      case Some(_) =>
        val anchor = snapshotSchema(spark, root, snaps.last)
        if (VersionedTable.isMapped(anchor))
          toLogical(spark.read
            .schema(VersionedTable.physicalSchema(anchor)).parquet(paths: _*),
            anchor)
        else spark.read.schema(anchor).parquet(paths: _*)
      case None =>
        spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
  }

  /** Row-level change feed — [[changes]] generalized across DML commits:
    * every row changed in `(fromVersion, toVersion]` with its
    * `_change_type` (insert / update_preimage / update_postimage /
    * delete) and `_commit_version` — the Delta CDF contract
    * (`readChangeFeed`). Appends serve their added dirs as inserts with
    * ZERO extra storage; delete/update/merge commits serve the change
    * images the DML kernel persisted at commit (`cdf=` manifest line,
    * `_changes/` dir — O(changed rows)); analyze/no-op versions are
    * empty. A subscriber of an upserted silver table therefore consumes
    * O(changed rows) per commit instead of resyncing O(table) per batch —
    * the reference's real-time loop is exactly this shape (upserts feeding
    * continuous aggregates, `enhanced_anomaly_detection.py:176-201` +
    * refresh policies `sql/timescaledb_schema.sql:233-238`).
    *
    * Still LOUDLY refused: `overwrite`/`restore` in the range (wholesale
    * snapshot replacement has no row-level delta — re-derive and
    * resubscribe), and pre-CDF DML commits (no persisted images). Every
    * slice conforms to the range's FINAL schema anchor (additive
    * evolution null-fills).
    */
  def changeFeed(spark: SparkSession, root: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion >= 0 && toVersion > fromVersion,
      s"bad change range ($fromVersion, $toVersion]")
    val snaps = (fromVersion + 1 to toVersion).map(snapshot(root, _))
    snaps.filter(s => s.operation == "overwrite" || s.operation == "restore") match {
      case bad if bad.nonEmpty =>
        throw new IllegalArgumentException(
          s"change feed crosses non-additive versions ${bad.map(_.version).mkString(",")} " +
            s"(${bad.map(_.operation).distinct.mkString(",")}): a wholesale replacement " +
            "has no row-level delta; re-derive consumers from the snapshot")
      case _ => ()
    }
    val legacyDml = snaps.filter(s =>
      Set("delete", "update", "merge").contains(s.operation) && s.cdfDir.isEmpty)
    require(legacyDml.isEmpty,
      s"versions ${legacyDml.map(_.version).mkString(",")} are pre-CDF DML commits " +
        "(no persisted change images); re-derive consumers from the snapshot")
    val anchor = snapshotSchema(spark, root, snaps.last)
    val mapped = VersionedTable.isMapped(anchor)
    def conform(df: DataFrame): DataFrame =
      df.select(anchor.map { f =>
        if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } :+ col("_change_type"): _*)
    val parts = snaps.flatMap { s =>
      s.operation match {
        case "append" | "clone" => // clone = a table's birth commit
          val prev =
            if (s.version == 1) Set.empty[String]
            else snapshot(root, s.version - 1).dataDirs.toSet
          val added = s.dataDirs.filterNot(prev)
          if (added.isEmpty) None
          else {
            val paths = added.map(d => new File(root, d).getPath)
            // mapped range: every slice reads under the range-FINAL
            // physical schema — physical identity is stable across
            // renames, so a pre-rename dir serves the renamed column
            // correctly under its final logical name
            val df =
              if (mapped) toLogical(spark.read
                .schema(VersionedTable.physicalSchema(anchor))
                .parquet(paths: _*), anchor)
              else s.schemaJson match {
                case Some(_) => spark.read
                  .schema(snapshotSchema(spark, root, s)).parquet(paths: _*)
                case None =>
                  spark.read.option("mergeSchema", "true").parquet(paths: _*)
              }
            Some(conform(df.withColumn("_change_type", lit("insert")))
              .withColumn("_commit_version", lit(s.version.toLong)))
          }
        case "delete" | "update" | "merge" =>
          // change images persist under PHYSICAL names; rename through
          // the final anchor (stale physical columns of since-dropped
          // fields pass through unrenamed and conform() drops them)
          val raw = spark.read.parquet(new File(root, s.cdfDir.get).getPath)
          val df = if (mapped) toLogical(raw, anchor) else raw
          Some(conform(df).withColumn("_commit_version", lit(s.version.toLong)))
        case _ => None // analyze/evolve/rename/drop etc.: zero rows changed
      }
    }
    if (parts.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(
          VersionedTable.logicalSchema(anchor).fields ++ Seq(
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType, nullable = false))))
    else parts.reduce(_ unionByName _)
  }

  /** Delete data dirs referenced ONLY by versions older than the retained
    * window (last `retainLast` versions) and their manifests, plus
    * UNREFERENCED orphan dirs (crashed or lost-race commits) older than
    * `orphanGraceMs`. The grace window is what makes vacuum safe to run
    * concurrently with writers: an in-flight commit's freshly-written dir
    * is unreferenced until its manifest publishes, and must not be reaped
    * out from under it — only an orphan that has sat unclaimed longer than
    * any plausible commit is dead. Dirs a below-cutoff manifest references
    * are deleted regardless of age (their only readers are gone with their
    * manifests). Returns the dir names actually deleted.
    */
  def vacuum(root: String, retainLast: Int = 2,
      orphanGraceMs: Long = 10 * 60 * 1000L,
      dryRun: Boolean = false): Seq[String] = {
    require(retainLast >= 1, "must retain at least the latest version")
    require(orphanGraceMs >= 0, "grace window must be non-negative")
    val latest = latestVersion(root).getOrElse(return Seq.empty)
    val cutoff = latest - retainLast + 1
    val committed = store.versions(root).toSet
    def dirsOf(vs: Iterable[Int]): Set[String] =
      vs.filter(committed.contains).flatMap(snapshot(root, _).dataDirs).toSet
    val retainedDirs = dirsOf(cutoff to latest)
    val expiredDirs = dirsOf(1 until cutoff) -- retainedDirs
    val now = nowMs()
    val live = data.list(root, "data")
      .filterNot(_.isFile).map(e => "data/" + e.name)
    val doomed = live.filterNot(retainedDirs.contains).filter { d =>
      expiredDirs.contains(d) ||
        data.modifiedMs(root, d) <= now - orphanGraceMs
    }
    // Deletion-vector files follow the DATA-dir lifecycle, not the CDF
    // one: a dv written at version k is CARRIED by every later manifest
    // until a purge/optimize folds it away, so liveness = referenced by a
    // retained manifest (never the name's version prefix). Unreferenced
    // dv dirs (lost races, purged-away sets below the cutoff) reap under
    // the same orphan grace discipline as data dirs.
    def dvsOf(vs: Iterable[Int]): Set[String] =
      vs.filter(committed.contains).flatMap(snapshot(root, _).dvs.map(_.path)).toSet
    val retainedDvs = dvsOf(cutoff to latest)
    val expiredDvs = dvsOf(1 until cutoff) -- retainedDvs
    val liveDvs = data.list(root, "_dv")
      .filterNot(_.isFile).map(e => "_dv/" + e.name)
    val doomedDvs = liveDvs.filterNot(retainedDvs.contains).filter { d =>
      expiredDvs.contains(d) ||
        data.modifiedMs(root, d) <= now - orphanGraceMs
    }
    // DRY RUN: the operator-safety form — report exactly what a real run
    // would reap, touch nothing (no dirs, no sidecars, no manifests)
    if (dryRun) return (doomed ++ doomedDvs).sorted
    val deleted = doomed.filter { d =>
      data.deleteTree(root, d)
      !data.exists(root, d) // report only what actually died
    }
    // A dead dir's bloom sidecars die with it: [[measureDirs]] names every
    // sidecar `<dir>-<token>-_<col>.bloom` (older tables also hold the
    // former `<dir>_<col>.bloom`), so orphaned sidecars are exactly the
    // ones whose dir-name prefix is gone; dir names can't prefix each other
    // within a version, each carries its own random token.
    deleted.foreach { d =>
      val prefix = new File(d).getName
      data.list(root, "_blooms").filter(_.name.startsWith(prefix))
        .foreach(e => data.deleteFile(root, s"_blooms/${e.name}"))
      // fstats sidecars are dir-named like blooms and die the same death
      data.list(root, "_fstats").filter(_.name.startsWith(prefix))
        .foreach(e => data.deleteFile(root, s"_fstats/${e.name}"))
    }
    // History outlives manifest retention BY CONTRACT: roll a summary
    // checkpoint at the current tip BEFORE any manifest dies, so versions
    // between the last periodic checkpoint and the cutoff keep their
    // DESCRIBE HISTORY rows. Strict (not the commit path's best-effort):
    // failing the vacuum loudly beats silently losing history.
    if (cutoff > 1) writeCheckpoint(root, latest)
    (1 until cutoff).foreach(store.delete(root, _))
    // checkpoint GC: only the NEWEST summary rollup is ever read (it
    // subsumes all older ones — including the history of manifests this
    // vacuum just dropped), so superseded checkpoint files die here
    val cps = Option(checkpointDir(root).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("v"))
      .flatMap(f => scala.util.Try(f.getName.stripPrefix("v").toInt).toOption
        .map(_ -> f))
    if (cps.size > 1) cps.sortBy(_._1).dropRight(1).foreach(_._2.delete())
    // CDF change dirs die with their manifests: below the cutoff nobody
    // can address them (changeFeed ranges need both end manifests)
    data.list(root, "_changes").filterNot(_.isFile)
      .foreach { e =>
        // name = v%05d-<token>
        val v = e.name.stripPrefix("v").takeWhile(_.isDigit)
        if (v.nonEmpty && v.toInt < cutoff)
          data.deleteTree(root, s"_changes/${e.name}")
      }
    val deletedDvs = doomedDvs.filter { d =>
      data.deleteTree(root, d)
      !data.exists(root, d)
    }
    (deleted ++ deletedDvs).sorted
  }

  /** Wall-clock-true VACUUM retention (`VACUUM t RETAIN n HOURS`): every
    * version COMMITTED inside the window survives, judged on the
    * manifests' actual `committed_ms` stamps — not a version-count proxy
    * — and the latest always survives. The timestamp walk rides
    * [[historySummary]] (checkpoint + O(tail) manifest parses), so a
    * streaming sink's 8 600-commits/day table prices this at one small
    * file read, never O(versions). Delegates to the version-form
    * [[vacuum]] once the window resolves to a cutoff.
    */
  def vacuumRetain(root: String, retainMs: Long,
      orphanGraceMs: Long = 10 * 60 * 1000L,
      dryRun: Boolean = false): Seq[String] = {
    require(retainMs >= 0, "retention window must be non-negative")
    val latest = latestVersion(root).getOrElse(return Seq.empty)
    val cutoffMs = nowMs() - retainMs
    val inWindow = historySummary(root)
      .filter(_.committedMs >= cutoffMs).map(_.version)
    val oldestKept = if (inWindow.isEmpty) latest else math.min(inWindow.min, latest)
    vacuum(root, latest - oldestKept + 1, orphanGraceMs, dryRun)
  }
}

object VersionedTable extends VersionedTableOps(CommitStore.local) {

  /** Table property that turns on row-level CDF image staging for every
    * DML commit against the table (set via `_props` /
    * `TBLPROPERTIES('graft.cdf.enabled'='true')`). Default OFF.
    */
  val CdfEnabledProp = "graft.cdf.enabled"

  /** StructField metadata key carrying a column's PHYSICAL (on-disk
    * parquet) name when it differs from the logical name — the manifest's
    * column-mapping seam (Delta's `delta.columnMapping.physicalName`
    * shape). Physical names are assigned at column creation and NEVER
    * change; RENAME COLUMN moves only the logical name, DROP COLUMN only
    * removes the field from the anchor — data files stay byte-identical.
    */
  val PhysicalNameKey = "graft.physicalName"

  /** `_props` marker set by the first rename/drop: once a table has ever
    * been mapped, columns added later get RANDOMIZED physical names so a
    * DROP followed by a re-ADD of the same logical name can never
    * resurrect the dropped column's old values from pre-drop files.
    */
  val ColumnMappingProp = "graft.column.mapping"

  /** `_props` key: write a `_checkpoint/v%05d` history rollup every N
    * commits (default 10). The checkpoint is a CACHE of per-version
    * summaries — losing one costs a longer walk, never correctness.
    */
  val CheckpointIntervalProp = "graft.checkpoint.interval"

  /** Per-root monitors serializing `_props` read-merge-writes within this
    * JVM (the OS file lock covers cross-process writers).
    */
  private[sources] val propsLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Roots already given the one-time "DML skipped CDF on a table with
    * prior change images" migration warning.
    */
  private[sources] val cdfSkipWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Process-wide cache of parsed `_fstats` sidecars, keyed by absolute
    * path. Sound because sidecar files are IMMUTABLE (attempt-unique
    * names, never rewritten in place) — a replaced dir gets a NEW sidecar
    * under a new name. Bounded crudely: cleared when it grows past the
    * size any one scan plausibly needs live.
    */
  private[sources] val fstatsCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[DirStat]]

  /** One commit's summary as recorded in a history checkpoint — all that
    * DESCRIBE HISTORY / `graft_table_history` / wall-clock time travel
    * need, so none of them has to parse O(versions) full manifests.
    */
  final case class HistoryEntry(version: Int, parent: Int, operation: String,
      rows: Long, committedMs: Long, nDirs: Int, hasCdf: Boolean)

  /** A field's on-disk parquet column name (logical name unless mapped). */
  def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  /** Does any field of this anchor carry a logical→physical mapping?
    * Unmapped tables (the overwhelmingly common case) take exactly the
    * pre-mapping code paths — zero plan or I/O change.
    */
  def isMapped(schema: org.apache.spark.sql.types.StructType): Boolean =
    schema.fields.exists(_.metadata.contains(PhysicalNameKey))

  /** The anchor with every field under its PHYSICAL name (clean metadata)
    * — the schema data-dir reads and writes use.
    */
  def physicalSchema(anchor: org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(anchor.fields.map(f =>
      org.apache.spark.sql.types.StructField(physicalName(f), f.dataType, f.nullable)))

  /** The anchor with mapping metadata stripped — what user-facing frames
    * and catalog schemas report (the mapping is storage detail).
    */
  def logicalSchema(anchor: org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(anchor.fields.map { f =>
      if (!f.metadata.contains(PhysicalNameKey)) f
      else {
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(PhysicalNameKey).build()
        f.copy(metadata = b)
      }
    })

  final case class Snapshot(
      version: Int,
      parent: Int,
      operation: String,
      rows: Long,
      schemaCols: Seq[String],
      dataDirs: Seq[String],
      committedMs: Long = 0L,
      dirStats: Seq[DirStat] = Seq.empty,
      dirBlooms: Seq[DirBloom] = Seq.empty,
      txns: Map[String, Long] = Map.empty,
      schemaJson: Option[String] = None,
      cdfDir: Option[String] = None,
      dvs: Seq[DvFile] = Seq.empty,
      fstatsRefs: Map[String, String] = Map.empty)

  /** One deletion-vector file, as recorded in the manifest
    * (`dv=<relative-path>|<rows>`): a parquet dir under `_dv/` whose rows
    * name deleted positions — `__file` = "dirBase/fileName" (the data
    * file's table-relative identity, stable across clones and table
    * moves), `__pos` = the row's `_metadata.row_index` within that file.
    * A snapshot's LIVE rows are its dirs' rows MINUS the union of its dv
    * files — the merge-on-read contract (Delta deletion vectors /
    * Iceberg positional deletes, re-expressed over the commit log).
    * `rows` (the file's entry count) prices the read-side anti-join:
    * below [[VersionedTable.dvBroadcastMaxRows]] the dv set broadcasts.
    */
  final case class DvFile(path: String, rows: Long,
      bases: Seq[String] = Seq.empty)

  /** Deletion-vector file schema: see [[DvFile]]. */
  val dvSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__file",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("__pos",
        org.apache.spark.sql.types.LongType, nullable = false)))

  /** Above this many total deleted positions the read-side anti-join
    * stops broadcasting the dv set and falls back to a shuffled anti-join
    * — correct at any size, but a signal the table wants
    * [[VersionedTableOps.purgeDeletes]] (or OPTIMIZE, which folds dvs
    * away as part of re-layout).
    */
  val dvBroadcastMaxRows: Long = 4000000L

  /** Per-dir min/max of one column, as recorded in the manifest. Values are
    * numeric images: timestamps as epoch micros, numerics as doubles —
    * comparison-faithful for pruning (micros stay below 2^53, so the double
    * image is exact); pruning is conservative either way (a dir is skipped
    * only when its whole range misses the predicate).
    */
  final case class DirStat(dir: String, col: String, min: Double, max: Double,
      file: Option[String] = None)

  /** Per-dir bloom sidecar pointer for one column, as recorded in the
    * manifest (`bloom=<dir>|<col>|<relative-path>`). The sidecar holds a
    * serialized Spark `BloomFilter` over the dir's values; probing it
    * answers "definitely absent" for equality predicates, which min/max
    * range stats cannot (a point key intersects every dir's range).
    */
  final case class DirBloom(dir: String, col: String, path: String)

  /** One conjunct of a composed-skipping read (see
    * [[VersionedTableOps.admittedDirs]]; [[VersionedTableOps.read]] derives
    * them from the filters Catalyst pushes at its scan): each admits or
    * dismisses a whole data dir from the manifest's stats/sidecars before
    * any data I/O.
    */
  sealed trait DirFilter

  /** `col BETWEEN lo AND hi` in the stats' numeric image (epoch micros for
    * timestamps, double otherwise) — consults manifest min/max.
    */
  final case class RangeFilter(col: String, lo: Double, hi: Double) extends DirFilter

  /** `col = value` (integral or string, the bloom domain) — consults the
    * min/max tier first for numeric probes, then the bloom sidecar.
    */
  final case class PointFilter(col: String, value: Any) extends DirFilter

  /** Disjunction of conjunctions — `(a ∧ b) ∨ (c ∧ d)`: a dir survives if
    * ANY branch's filters all admit it. The shape `symbol IN ('A','B')`
    * and general OR predicates translate to; each branch's point filters
    * still ride the bloom tier, so a multi-key probe skips every dir
    * holding none of the keys.
    */
  final case class AnyOf(branches: Seq[Seq[DirFilter]]) extends DirFilter

  /** Order-preserving numeric image of a string: its first 6 UTF-8 bytes
    * big-endian, zero-padded — an integer < 2^48, exact in a Double. This
    * is how STRING `statsCols` ride the numeric min/max stats tier (the
    * Delta string-stats analogue, truncated like Delta's 32-char prefix):
    * byte-wise UTF-8 order is exactly Spark's binary string collation
    * (`UTF8String.compareTo`), and prefix truncation is monotone
    * NON-STRICT — `x <= y  ⇒  image(x) <= image(y)` — so every range or
    * point dismissal against image stats is conservative: a dismissed dir
    * provably holds no matching row; dirs sharing a 6-byte prefix with the
    * probe merely survive. Ties beyond 6 bytes are the bloom sidecars' and
    * the row-level predicate's job.
    */
  /** Additive schema union: parent fields first (keeping their types), then
    * the batch's NEW fields appended — the same discipline mergeSchema
    * applies at read time, decided once at commit time and persisted.
    */
  def mergeSchemas(parent: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      parent.fields ++ batch.fields.filterNot(f => parent.fieldNames.contains(f.name)))

  /** Deep-nullable image of a schema — what a parquet round-trip reports
    * (a snapshot spans many files; any may hold nulls for any column, and
    * additive evolution null-fills older dirs). The persisted manifest
    * schema is normalized through this so the anchor a manifest serves is
    * bit-identical to the anchor a footer read would have served.
    */
  def asNullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = asNullable(a.elementType), containsNull = true)
      case m: MapType => m.copy(valueType = asNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  def strImage(s: String): Double = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var v = 0L
    var i = 0
    while (i < 6) { v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L); i += 1 }
    v.toDouble
  }

  final class CommitConflictException(version: Int)
    extends RuntimeException(
      s"commit conflict: version $version was committed concurrently; " +
        "re-read latestVersion and retry")

  /** A maintenance rewrite lost its conditional put to a commit
    * that TOUCHED the scope (DML rewrote a scoped dir, a dv landed on one,
    * or the schema anchor moved) — not rebasable, by design loud.
    */
  final class ConcurrentScopeException(root: String, why: String)
    extends RuntimeException(s"scoped rewrite on $root conflicts: $why")

  /** Total maintenance-rewrite rebases this process performed — observability
    * for the maintenance-vs-writer race (asserted by the race tests).
    */
  val rebaseCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Depth-first delete handling nested dirs (e.g. a crashed Spark write's
    * `_temporary` tree). Returns true iff `f` no longer exists.
    */
  private[sources] def deleteRecursively(f: File): Boolean = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete() || !f.exists()
  }

  /** Mirror `src`'s file tree at `dst` via hardlinks (zero bytes copied;
    * the clone primitive). Falls back to a byte copy where the filesystem
    * refuses links (cross-device, or no link support) — correctness never
    * depends on the link succeeding, only cost does.
    */
  private[graft] def linkTree(src: File, dst: File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).toSeq.flatten
        .foreach(f => linkTree(f, new File(dst, f.getName)))
    } else {
      Option(dst.getParentFile).foreach(_.mkdirs())
      try java.nio.file.Files.createLink(dst.toPath, src.toPath)
      catch {
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          java.nio.file.Files.copy(src.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ()
      }
    }
  }
}
