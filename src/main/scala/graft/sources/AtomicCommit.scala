package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Write-new-files-then-commit versioning for the mutable stores
  * (VERDICT r6 #4): data lands under a fresh `v=<N>/` directory first,
  * and becomes visible only when a small commit file RENAMES into
  * `_commits/<N>` — the atomic primitive on HDFS-like filesystems, the
  * same design as Structured Streaming's metadata log. Readers resolve
  * "latest" as the max version present in `_commits/`, so:
  *
  *   - a crash ANYWHERE mid-write leaves an orphan `v=<N>` directory
  *     that no reader ever sees (the commit file was never renamed);
  *   - readers concurrent with a writer see the previous version in
  *     full — never a mix of old and new buckets (snapshot isolation
  *     at version granularity);
  *   - recovery is automatic: the next write picks the version after
  *     the last COMMITTED one and overwrites any orphan debris.
  *
  * The commit file body is the version's manifest (free-form text —
  * bucket ownership for the upsert store, empty for whole-version
  * stores). One writer per store at a time (foreachBatch and batch
  * jobs are single-writer by construction); the rename-no-overwrite
  * claim is a best-effort guard, not a lock service. Measured limit of
  * that guard (ContentionSpec): on HDFS-class filesystems rename is
  * atomic no-overwrite and a same-version race has exactly one winner;
  * on LocalFileSystem, rename is check-then-rename and a simultaneous
  * same-version commit can interleave one writer's manifest body with
  * the other's checksum sidecar — a TORN manifest that readers detect
  * as a ChecksumException (loud, never silent wrong data). Reaching
  * that state requires two unfenced writers committing the same
  * version at the same instant — a double contract violation; use
  * [[acquireEpoch]]/[[commitFenced]] wherever two attempts can
  * overlap.
  *
  * Object stores: ABFS and GCS rename single files atomically, so the
  * protocol holds as on HDFS. Raw S3 has NO rename (S3A emulates it
  * as copy+delete, neither atomic nor no-overwrite) — there, only the
  * tiny `_commits/<N>` publication needs a real primitive (the data
  * directories are write-once and never renamed): back it with S3
  * conditional PUT (If-None-Match, supported by S3 since 2024 and
  * surfaced by recent S3A) or an external fencing service, exactly
  * the choice every S3 table format makes (Delta's LogStore,
  * Iceberg's catalog swap). The protocol's shape — one small
  * publication point, everything else immutable — is what makes that
  * substitution local, and [[CasPublisher]] makes it EXECUTABLE: both
  * CAS points (version commits, epoch claims) route through one
  * pluggable primitive selected by `spark.graft.casPublisher`
  * (`rename` default; `create` = the exclusive-create /
  * conditional-PUT shape, raced in ContentionSpec). */
object AtomicCommit {

  private[graft] def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Filesystem-correct existence check for store paths — unlike
    * java.io.File, this resolves hdfs://, s3a://, etc. through the
    * Hadoop FileSystem (a File check is silently ALWAYS false for
    * non-local URIs, which for a non-atomic streaming store means
    * "no history" plus an overwrite of everything accepted so far). */
  private[graft] def pathExists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  def versionDir(root: String, v: Long): String = s"$root/v=$v"

  private def commitsDir(root: String) = new Path(root, "_commits")

  /** All committed versions, ascending; empty for an absent store.
    * This is the time-travel index: any listed version is readable via
    * [[at]] until [[vacuum]]'s retention floor passes it. */
  def committedVersions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val dir = commitsDir(root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .sorted
  }

  private def readBody(spark: SparkSession, root: String, v: Long): String = {
    val p = new Path(commitsDir(root), v.toString)
    def readWith(f: org.apache.hadoop.fs.FileSystem): String = {
      val in = f.open(p)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), UTF_8)
      finally in.close()
    }
    try readWith(fs(spark, root))
    catch {
      case _: org.apache.hadoop.fs.ChecksumException =>
        // LocalFileSystem same-version-race tear (ContentionSpec's
        // measured finding): rename is atomic PER FILE, so the body
        // file is exactly one writer's complete bytes — only the
        // checksum SIDECAR can belong to the other racer. Without this
        // fallback one torn manifest bricks the store (latest, vacuum
        // and every reader resolve through here). Re-read with
        // verification off — availability over the sidecar, on a tiny
        // file whose content the manifest decoders validate
        // structurally anyway. HDFS-class renames never reach here.
        val conf = spark.sparkContext.hadoopConfiguration
        val f2 = org.apache.hadoop.fs.FileSystem.newInstance(p.toUri, conf)
        try { f2.setVerifyChecksum(false); readWith(f2) }
        finally f2.close()
    }
  }

  /** The manifest body of committed version `v` — time travel's
    * resolution step. None if `v` was never committed or was vacuumed
    * past (its commit file is the retention token: vacuum removes it
    * together with the data only it references). */
  def at(spark: SparkSession, root: String, v: Long): Option[(Long, String)] = {
    val f = fs(spark, root)
    val p = new Path(commitsDir(root), v.toString)
    if (f.exists(p)) Some((v, readBody(spark, root, v))) else None
  }

  /** Latest committed (version, manifest body), None for an empty or
    * absent store. */
  def latest(spark: SparkSession, root: String): Option[(Long, String)] = {
    val versions = committedVersions(spark, root)
    if (versions.isEmpty) None
    else Some((versions.max, readBody(spark, root, versions.max)))
  }

  /** The version a writer should produce next. */
  def nextVersion(spark: SparkSession, root: String): Long =
    latest(spark, root).map(_._1 + 1).getOrElse(1L)

  /** The ONE primitive an object-store port must supply (scaladoc
    * above: data directories are write-once, only the tiny CAS
    * publications need atomicity): put `bytes` at `dst` iff nothing is
    * there, atomically. true = this caller won the slot; false = the
    * slot was already taken. Implementations must never leave a
    * partial object visible at `dst`. */
  trait CasPublisher {
    def publishIfAbsent(f: org.apache.hadoop.fs.FileSystem, root: Path,
                        dst: Path, bytes: Array[Byte]): Boolean
  }

  /** write-tmp + rename-no-overwrite — exactly-once on HDFS-class
    * filesystems and ABFS/GCS (atomic single-file rename); on
    * LocalFileSystem rename is check-then-rename, with the documented
    * torn-manifest recovery in [[readBody]]. The default. */
  object RenamePublisher extends CasPublisher {
    def publishIfAbsent(f: org.apache.hadoop.fs.FileSystem, root: Path,
                        dst: Path, bytes: Array[Byte]): Boolean = {
      if (f.exists(dst)) return false
      val tmp = new Path(root,
        s"_tmp-cas-${dst.getName}-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, true)
      try out.write(bytes) finally out.close()
      val ok = f.rename(tmp, dst)
      if (!ok) f.delete(tmp, false)
      ok
    }
  }

  /** conditional-create — the S3 `If-None-Match` conditional-PUT shape
    * (one exclusive create, no temporary object, no rename). The
    * primitive this publisher needs is PUBLICATION-atomicity, not mere
    * existence-atomicity: the destination must become visible with its
    * FULL content or not at all. That holds only where VERIFIED, so
    * the scheme check is an ALLOWLIST (ADVICE r16 — the old
    * `scheme != "hdfs"` denylist let every other create-then-flush
    * filesystem through the generic branch): `s3a`/`s3`/`gs` upload
    * the whole object in the single conditional PUT that `close()`
    * issues — no byte is visible at `dst` before the full content is —
    * and the local scheme publishes via the hard-link path below.
    * Everything else is REFUSED loudly: HDFS `create(dst, false)`
    * makes `dst` namespace-visible at ZERO length before any byte is
    * written; ABFS likewise creates the blob path entry at `create()`
    * and lands data only at flush/close; `viewfs://`/`webhdfs://`
    * route to HDFS semantics under different scheme strings. A
    * crash or a concurrent `latest()` in any such window would
    * observe a committed version with an empty/partial manifest, a
    * state the rename publisher can never produce — use the default
    * `rename` publisher there (HDFS-family rename is atomic).
    * Selecting it (`spark.graft.casPublisher = create`) changes no
    * other part of the protocol, and the LocalFileSystem
    * torn-manifest window (a rename racing a checksum sidecar) cannot
    * occur — the loser's link/PUT fails before its content is ever
    * visible at `dst`. */
  object ExclusiveCreatePublisher extends CasPublisher {
    /** Schemes with verified publish-at-close conditional-create
      * semantics (plus "file", which takes the link(2) path). */
    private val publishAtClose = Set("s3a", "s3", "gs")
    def publishIfAbsent(f: org.apache.hadoop.fs.FileSystem, root: Path,
                        dst: Path, bytes: Array[Byte]): Boolean = {
      val scheme = Option(dst.toUri.getScheme)
        .getOrElse(f.getUri.getScheme)
      require(scheme == "file" || publishAtClose(scheme),
        s"casPublisher=create on $dst: scheme '$scheme' is not on the " +
          "verified publish-at-close allowlist (s3a, s3, gs, file). On " +
          "HDFS-class filesystems (hdfs, viewfs, webhdfs) and ABFS, " +
          "create(dst, overwrite=false) publishes a zero-length entry " +
          "into the namespace BEFORE the manifest bytes land — existence " +
          "is atomic but publication is not, so a crash/reader in the " +
          "window sees a committed version with an empty manifest. Use " +
          "spark.graft.casPublisher=rename there (single-file rename is " +
          "atomic with full content).")
      if (scheme == "file") {
        // Hadoop's LocalFileSystem create(path, overwrite=false) is
        // check-then-create — NOT atomic (measured: a 4-thread barrier
        // race produced 4 "winners"), and even POSIX O_CREAT|O_EXCL
        // publishes an EMPTY file before the write syscall lands. The
        // real local primitive for atomic-with-content is link(2):
        // write the bytes to a tmp file first, then hard-link it to
        // `dst` — link fails with EEXIST if dst exists and otherwise
        // makes dst visible with the tmp file's full content in one
        // syscall. The linked file has no .crc sidecar, which
        // ChecksumFileSystem treats as checksum-skipped.
        val p = java.nio.file.Paths.get(dst.toUri.getPath)
        val tmp = p.resolveSibling(
          s"_tmp-cas-${p.getFileName}-${java.util.UUID.randomUUID()}")
        try {
          java.nio.file.Files.write(tmp, bytes,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          java.nio.file.Files.createLink(p, tmp)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        } finally {
          java.nio.file.Files.deleteIfExists(tmp)
        }
      } else
        try {
          // allowlisted object-store connectors (s3a/s3 conditional
          // PUT, gs): the object is uploaded in the close() call as one
          // conditional write — nothing is visible at dst before the
          // full content is; overwrite=false is the If-None-Match
          val out = f.create(dst, false)
          try out.write(bytes) finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: java.io.IOException
              if e.getMessage != null && e.getMessage.contains("already exists") =>
            false
        }
    }
  }

  /** Publisher selection: `spark.graft.casPublisher` = `rename`
    * (default) | `create`. One knob for both CAS points (version
    * commits and epoch claims) — an S3-class deployment flips it once. */
  private[graft] def publisher(spark: SparkSession): CasPublisher =
    spark.conf.getOption("spark.graft.casPublisher").getOrElse("rename") match {
      case "rename" => RenamePublisher
      case "create" => ExclusiveCreatePublisher
      case other => throw new IllegalArgumentException(
        s"spark.graft.casPublisher=$other (want rename | create)")
    }

  /** Publish version `v` with `manifest` as the commit body. Returns
    * false if `v` was already committed (lost a race — the store is
    * single-writer, so treat as an error upstream). */
  def commit(spark: SparkSession, root: String, v: Long, manifest: String): Boolean = {
    val f = fs(spark, root)
    f.mkdirs(commitsDir(root))
    val dst = new Path(commitsDir(root), v.toString)
    if (f.exists(dst)) return false
    publisher(spark).publishIfAbsent(f, new Path(root), dst,
      manifest.getBytes(UTF_8))
  }

  // ── Writer fencing (multi-writer safety under orchestration retries) ──

  private def epochsDir(root: String) = new Path(root, "_epochs")

  /** Highest claimed writer epoch; 0 for a store no writer has fenced. */
  def maxEpoch(spark: SparkSession, root: String): Long = {
    val f = fs(spark, root)
    val dir = epochsDir(root)
    if (!f.exists(dir)) 0L
    else f.listStatus(dir).toSeq
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .foldLeft(0L)(math.max)
  }

  /** Claim the next writer epoch — the fencing token of Chandra et al.'s
    * lease pattern, built on the same rename-no-overwrite primitive as
    * [[commit]]: epoch `e` belongs to whoever renamed `_epochs/<e>` into
    * place first; losers observe the collision and claim `e+1`. A new
    * job attempt (an orchestration retry of a stalled writer) calls this
    * once at startup and passes the token to every [[commitFenced]];
    * from the moment the retry acquires its epoch, every later commit
    * attempt by the older attempt is rejected. `holder` is a free-form
    * audit tag stored in the epoch file body.
    *
    * Guarantee (filesystem-primitive honest): after epoch e+1 exists, no
    * `commitFenced(..., epoch = e)` call that STARTS later can succeed,
    * and no fenced BATCH that starts later writes data ([[checkFence]]
    * runs before the data write in every fenced writer). A commit
    * already past its fencing check when the new epoch lands races on
    * the version CAS — one rename fails cleanly. The one residual
    * window is a zombie mid-DATA-write at takeover: see [[checkFence]]
    * for its shape and the operational close. */
  def acquireEpoch(spark: SparkSession, root: String, holder: String = ""): Long = {
    val f = fs(spark, root)
    f.mkdirs(epochsDir(root))
    val pub = publisher(spark)
    var e = maxEpoch(spark, root) + 1
    // a publication can fail for two reasons: the epoch slot was claimed
    // by a racing writer (dst exists — advance and retry), or the
    // filesystem itself failed (permissions, transient error — dst still
    // absent). Only collisions justify retrying; anything else must
    // surface, not burn epoch numbers in an unbounded loop.
    var nonCollisionFailures = 0
    while (true) {
      val dst = new Path(epochsDir(root), e.toString)
      if (!f.exists(dst)) {
        if (pub.publishIfAbsent(f, new Path(root), dst, holder.getBytes(UTF_8)))
          return e
        if (!f.exists(dst)) {
          // publication failed but nobody claimed the slot: a real FS failure
          nonCollisionFailures += 1
          if (nonCollisionFailures >= 3)
            throw new java.io.IOException(
              s"acquireEpoch: publication into $dst failed $nonCollisionFailures " +
                "times with no competing claim — filesystem error, not a " +
                "collision; aborting instead of burning epoch numbers")
        } else e += 1 // lost the race: someone else owns e now
      } else e += 1
    }
    e // unreachable
  }

  /** [[commit]] guarded by a fencing token from [[acquireEpoch]]: the
    * commit is rejected (false) when a newer epoch has been claimed —
    * the caller is a zombie attempt whose retry already took over — or
    * when the version CAS loses. The epoch is recorded as an
    * `epoch:<e>` header line in the commit body (audit trail: which
    * attempt produced each version); the manifest codecs strip it. */
  def commitFenced(spark: SparkSession, root: String, v: Long,
                   manifest: String, epoch: Long): Boolean = {
    require(epoch >= 1, s"epoch=$epoch must come from acquireEpoch")
    if (maxEpoch(spark, root) > epoch) false
    else commit(spark, root, v, s"epoch:$epoch\n$manifest")
  }

  /** Fail fast when a newer epoch has been claimed. Fenced writers
    * call this at the START of every batch — BEFORE the versioned data
    * write — so a zombie batch dies before it can touch a `v=<N>`
    * directory the retry may be about to write. Residual window (the
    * filesystem-primitive limit): a zombie already past this check and
    * mid-data-write when the retry acquires its epoch can interleave
    * files with the retry's first write of the SAME version; its
    * commit is still rejected, but the retry's commit would publish
    * the mixed directory. Orchestrators close it by acquiring the
    * epoch and waiting out one in-flight batch interval before the
    * first write. */
  def checkFence(spark: SparkSession, root: String, epoch: Long): Unit = {
    val top = maxEpoch(spark, root)
    require(top <= epoch,
      s"writer fenced: epoch $epoch superseded by $top under $root — " +
        "a newer attempt owns this store; this writer must stop")
  }

  /** Publish `v` under the writer-loop convention: fenced when the
    * caller holds an epoch, plain CAS otherwise, failing with a
    * cause-specific message — shared by every store writer that takes
    * an opt-in `fenceEpoch`. */
  def commitOrFail(spark: SparkSession, root: String, v: Long,
                   manifest: String, epoch: Option[Long]): Unit = {
    val ok = epoch match {
      case Some(e) => commitFenced(spark, root, v, manifest, e)
      case None    => commit(spark, root, v, manifest)
    }
    require(ok, epoch match {
      case Some(e) if maxEpoch(spark, root) > e =>
        s"writer fenced: epoch $e superseded by ${maxEpoch(spark, root)} " +
          s"under $root — a newer attempt owns this store; this writer must stop"
      case _ =>
        s"version $v already committed under $root — concurrent writer?"
    })
  }

  /** The fencing epoch recorded in a commit body, if any. */
  def manifestEpoch(body: String): Option[Long] =
    if (body.startsWith("epoch:"))
      body.linesIterator.next().stripPrefix("epoch:").trim.toLongOption
    else None

  /** Commit body minus the optional `epoch:` header — what the manifest
    * codecs below actually parse. */
  private def stripEpochHeader(body: String): String =
    if (body.startsWith("epoch:")) body.linesIterator.drop(1).mkString("\n")
    else body

  /** Bucket-ownership manifest codec for the upsert store: one
    * `bucket,version` line per bucket. Only `bucket,version` integer
    * lines are parsed — other manifest lines (`segs:`, `census:`,
    * free text) are skipped, so vacuum's owner-or-segments resolution
    * never trips over a manifest kind it doesn't own. */
  def encodeOwners(owners: Map[Int, Long]): String =
    owners.toSeq.sorted.map { case (b, v) => s"$b,$v" }.mkString("\n")

  def decodeOwners(s: String): Map[Int, Long] =
    stripEpochHeader(s).linesIterator
      .filter(_.matches("\\d+,\\d+")).map { line =>
        val Array(b, v) = line.split(",", 2)
        b.toInt -> v.toLong
      }.toMap

  /** Segment-list manifest codec for append-composed stores (the IVF
    * index): the committed version's data is the UNION of the listed
    * version directories, oldest first. Distinct prefix keeps it
    * unambiguous next to the owners codec and the empty whole-version
    * manifest; manifests are LINE-structured, so a body may carry a
    * `segs:` line and a `census:` line together. */
  def encodeSegments(versions: Seq[Long]): String =
    "segs:" + versions.mkString(",")

  /** Some(segment versions) if `body` carries a segment-list line
    * (epoch header tolerated). */
  def decodeSegments(body: String): Option[Seq[Long]] =
    stripEpochHeader(body).linesIterator.find(_.startsWith("segs:"))
      .map(_.stripPrefix("segs:").split(",").toSeq
        .filter(_.nonEmpty).map(_.trim.toLong))

  /** Composition-census manifest line (r15): the committed version's
    * TOTAL per-cell row counts, folded into the commit body the reader
    * already fetches to resolve `latest` — so a serve-path census read
    * costs ZERO extra filesystem reads (the per-segment `_census`
    * parquet sidecars measured 92 ms/segment at read: one Spark job
    * each; CensusCostProbe (d521caa)). Writers keep the sidecars as the
    * per-segment source of truth and maintain the body total
    * incrementally (previous total + the new segment's delta). */
  def encodeCensusLine(counts: Seq[(Int, Long)]): String =
    "census:" + counts.sorted.map { case (c, n) => s"$c=$n" }.mkString(",")

  /** Row-count manifest line (VERDICT r16 #6, the census precedent):
    * the number of rows in THIS version's data directory, folded into
    * the commit body. [[graft.sources.AppendStore.append]] already
    * counts the frame for its file-count discipline, so recording it
    * is free — and census-style consumers ([[graft.ext.DocPipeline]]'s
    * `adviseShardCount`) then price a store from the tiny `_commits/`
    * files alone: zero Spark jobs, zero parquet footer reads. */
  def encodeRowsLine(rows: Long): String = s"rows:$rows"

  /** Some(version row count) if `v`'s manifest carries a rows line
    * (post-r17 appends); None for older or foreign manifests.
    *
    * Deliberately UNCACHED (as is [[foldsOf]]): commit bodies look
    * immutable, but a store wiped and rebuilt at the same path (the
    * cold-start disaster recipe) REUSES (root, version) keys — a
    * session-lifetime memo would then serve the dead store's rows/
    * folds lines, mispricing advise and, worse, mis-resolving
    * liveVersions. The per-call cost is one tiny file read per
    * version, and version counts are bounded by compaction cadence. */
  def rowsOf(spark: SparkSession, root: String, v: Long): Option[Long] =
    stripEpochHeader(readBody(spark, root, v)).linesIterator
      .find(_.startsWith("rows:"))
      .flatMap(s => scala.util.Try(s.stripPrefix("rows:").trim.toLong).toOption)

  /** Fold-supersession manifest line (r17 — reader grace for
    * [[graft.sources.AppendStore.compact]]): a compacted version's body
    * carries `folds:<N>`, declaring it REPLACES every committed version
    * ≤ N in the union-of-versions read. This is what lets vacuum
    * RETAIN a pre-fold version's files for in-flight readers (they
    * resolved the old manifest and must finish against real files)
    * without new readers double-counting its rows — retention without
    * supersession would re-union the folded content. */
  def encodeFoldsLine(maxFolded: Long): String = s"folds:$maxFolded"

  /** Some(max version this commit supersedes) if `v` is a fold.
    * Uncached — see [[rowsOf]]. */
  def foldsOf(spark: SparkSession, root: String, v: Long): Option[Long] =
    stripEpochHeader(readBody(spark, root, v)).linesIterator
      .find(_.startsWith("folds:"))
      .flatMap(s => scala.util.Try(s.stripPrefix("folds:").trim.toLong).toOption)

  /** Some(per-cell totals) if `body` carries a census line (epoch
    * header tolerated). May include zero/negative cells mid-LSM —
    * readers filter to positive. */
  def decodeCensus(body: String): Option[Map[Int, Long]] =
    stripEpochHeader(body).linesIterator.find(_.startsWith("census:"))
      .map(_.stripPrefix("census:").split(",").toSeq
        .filter(_.nonEmpty).map { kv =>
          val Array(c, n) = kv.split("=", 2)
          c.trim.toInt -> n.trim.toLong
        }.toMap)

  /** Delete uncommitted orphan `v=<N>` directories (crash debris) and
    * versions past the retention floor. `keepVersions` is the floor:
    * the newest N COMMITTED versions stay fully readable — their commit
    * files survive and every data directory any of their manifests
    * references survives (for the upsert store that includes older
    * `v=` dirs still owning untouched buckets). Commit files older
    * than the floor are removed WITH their now-unreferenced data, so a
    * time-travel read of a vacuumed version fails cleanly at version
    * resolution ([[at]] → None) instead of scanning missing files.
    * Safe to run any time from the single writer. */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 1): Seq[String] = {
    require(keepVersions >= 1, s"keepVersions=$keepVersions must be >= 1")
    val f = fs(spark, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return Nil
    val versions = committedVersions(spark, root)
    val retained = versions.takeRight(keepVersions)
    val live: Set[Long] = retained.flatMap { v =>
      val body = readBody(spark, root, v)
      // segment manifests keep every listed dir alive; owner manifests
      // keep every owning dir alive; whole-version stores: just v
      decodeSegments(body).getOrElse(decodeOwners(body).values.toSeq) :+ v
    }.toSet
    // commit files first (a crash between phases leaves data-only
    // debris, which the next vacuum self-heals; the reverse order would
    // leave commits pointing at missing data). Report only paths whose
    // delete() actually succeeded — a permission failure must not be
    // listed as removed.
    val staleCommits = versions.dropRight(keepVersions).flatMap { v =>
      val p = new Path(commitsDir(root), v.toString)
      if (f.delete(p, false)) Some(p.toString) else None
    }
    val deadDirs = f.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap { s =>
        scala.util.Try(s.getPath.getName.stripPrefix("v=").toLong).toOption
          .filterNot(live)
          .filter(_ => f.delete(s.getPath, true)).map(_ => s.getPath.toString)
      }
    // stale epoch files: everything below the current max is history
    // (fencing only ever compares against the max, which must survive
    // so zombie writers stay fenced after vacuum)
    val eDir = epochsDir(root)
    val staleEpochs = if (!f.exists(eDir)) Nil else {
      val top = maxEpoch(spark, root)
      f.listStatus(eDir).toSeq
        .filter(s => scala.util.Try(s.getPath.getName.toLong).toOption.exists(_ < top))
        .flatMap(s => if (f.delete(s.getPath, false)) Some(s.getPath.toString) else None)
    }
    // crash debris from the publishers (ADVICE r16): a process killed
    // between the tmp write and its cleanup orphans `_tmp-cas-*` files
    // in the root, _commits, or _epochs. Listings skip non-numeric
    // names so correctness never depended on this, but the debris
    // accumulated unboundedly across crashes. Sweeping here is safe
    // from the single writer's seat: a swept tmp can only belong to a
    // dead attempt or to a concurrent claimer mid-publish, and in the
    // latter case that publish fails LOUDLY (rename/link of a missing
    // tmp) and retries — never a torn or silently-lost commit.
    val tmpDebris = Seq(rootPath, commitsDir(root), eDir)
      .filter(f.exists)
      .flatMap(d => f.listStatus(d).toSeq)
      .filter(s => s.isFile && s.getPath.getName.startsWith("_tmp-cas-"))
      .flatMap(s => if (f.delete(s.getPath, false)) Some(s.getPath.toString) else None)
    deadDirs ++ staleCommits ++ staleEpochs ++ tmpDebris
  }
}
