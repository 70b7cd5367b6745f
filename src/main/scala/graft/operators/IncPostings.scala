package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance for the trigram-postings index — the
  * delta-merge path the full-rebuild artifact lacks. At 100 TB a daily
  * delta cannot re-tokenize the corpus: the round-10 decade table puts
  * the full trigram build at 510 s on the 100× corpus, and a
  * production index takes the LSM shape instead — immutable postings
  * SEGMENTS plus doc-level TOMBSTONES, composed by a versioned
  * manifest, so an increment costs one delta-sized build and a
  * metadata commit while probes stay corpus-size-independent.
  *
  * Storage layout (one root per corpus generation, published as an
  * [[ArtifactCache]] directory):
  *
  *   segments/seg-00001-ab12cd34/   (doc_id, g) postings  — immutable
  *   segments/seg-00002-9f0e1d2c/   delta postings        — immutable
  *   tombstones/seg-00002-77aa88bb/ doc_id                — immutable
  *   gens/gen-00001/MANIFEST.json
  *   gens/gen-00002/MANIFEST.json
  *   CURRENT                        reader HINT (monotonic, best-effort)
  *
  * A manifest lists (segment path, seq) plus (tombstone path, seq); a
  * tombstone kills a doc's rows in every segment with a LOWER seq only
  * (the standard LSM visibility rule — an edited doc's fresh postings
  * live in the delta segment at the tombstone's own seq and survive).
  * Commits are OPTIMISTIC-CONCURRENCY (the Iceberg protocol): data
  * files are written under writer-unique names beside the live
  * generation, then the fully-written manifest is hard-linked into
  * `gens/gen-N/MANIFEST.json` — an atomic create-fails-if-exists, so
  * exactly one writer wins each generation and a loser (a concurrent
  * delta committer racing a compaction daemon — the production
  * two-writer reality) rebases on the winner's manifest and retries
  * at the next number. The live generation is the max manifest on
  * disk; CURRENT is only a hint. Readers that resolved an earlier
  * generation keep a complete immutable view, and a killed build
  * leaves no half-visible generation (an unlinked manifest is
  * invisible; orphaned data dirs are retention's to sweep).
  *
  * The simulated timeline uses [[Maintenance.snapshotV2]]'s release
  * semantics (residue 97 drops, residue 31 edits, residue 89 adds at
  * doc_id + 10M) so the DuckDB oracle can reproduce the v2 corpus
  * exactly: gen-1 indexes v1 (the documents table); the increment
  * derives the delta docs + tombstones from the snapshot diff and
  * commits gen-2. Reference corpus: /root/reference has no index
  * maintenance at all (collect/consumer.py re-reads everything);
  * this serves the engine's own index family.
  */
object IncPostings {

  // ── manifest read/write ────────────────────────────────────────────

  /** One immutable postings file set with its commit sequence. */
  private[graft] case class Segment(path: String, seq: Int)

  /** A generation = the segments visible plus the tombstones in force,
    * plus (for stream-maintained indexes) the id of the micro-batch
    * whose commit produced it — the transactional replay marker — plus
    * an optional KIND-OWNED metadata pointer (`meta`) that versions
    * atomically with the generation. The machinery never interprets
    * it; the ivfvec kind stores its codebook path there, so a
    * recluster's new codebook and the reassigned rows publish in ONE
    * atomic commit and time travel reads every generation with the
    * codebook that produced it. Deltas and compactions inherit the
    * basis' meta unchanged. */
  private[graft] case class Manifest(segments: Seq[Segment],
      tombstones: Seq[Segment], batchId: Option[Long] = None,
      meta: Option[String] = None)

  /** JSON string escape for the hand-rolled writer: backslash, quote,
    * and all control chars. Paths are internally generated and benign
    * today, but a manifest writer must be correct by construction —
    * an unescapable root path would otherwise corrupt every manifest
    * under it. Roundtrip is ScalaCheck-pinned (IncPostingsSpec). */
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def manifestJson(m: Manifest): String = {
    def arr(ss: Seq[Segment]) = ss.map(s =>
      s"""{"path":${jstr(s.path)},"seq":${s.seq}}""").mkString("[", ",", "]")
    val batch = m.batchId.map(id => s""","batchId":$id""").getOrElse("")
    val meta = m.meta.map(p => s""","meta":${jstr(p)}""").getOrElse("")
    s"""{"segments":${arr(m.segments)},"tombstones":${arr(m.tombstones)}$batch$meta}"""
  }

  private def parseManifest(json: String): Manifest = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val ast = JsonMethods.parse(json)
    def segs(field: String): Seq[Segment] =
      (ast \ field).extract[Seq[Map[String, JValue]]].map(m =>
        Segment(m("path").extract[String], m("seq").extract[Int]))
    Manifest(segs("segments"), segs("tombstones"),
      (ast \ "batchId").extractOpt[Long],
      (ast \ "meta").extractOpt[String])
  }

  private def writeText(f: java.io.File, text: String): Unit = {
    f.getParentFile.mkdirs()
    // Explicit UTF-8: FileWriter's no-charset constructor uses the
    // platform default (ANSI_X3.4-1968 in this container), which
    // silently mangles any non-ASCII byte on the write side while
    // readText decodes UTF-8 — found by the ManifestProperties
    // roundtrip fuzz on an astral-char segment path.
    val w = new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(f), java.nio.charset.StandardCharsets.UTF_8)
    try w.write(text) finally w.close()
  }

  private def readText(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Live (= max committed) generation: the highest
    * `gens/gen-N/MANIFEST.json` on disk. The manifest set is
    * authoritative — the CURRENT file is only a monotonic reader hint
    * (Iceberg's version-hint.text), because a pointer file cannot be
    * compare-and-swapped portably and two racing writers could leave
    * it behind. Manifests are created by an atomic
    * create-fails-if-exists, so a listed manifest is always complete.
    *
    * Resolution is O(1) on the hot path: generations are contiguous,
    * so start at the hint and probe forward until the first missing
    * manifest (the hint is advanced per commit — typically 0 or 1
    * probe steps). A stale-beyond-retention or absent hint falls back
    * to the full directory listing. */
  private[graft] def committedGen(root: java.io.File): Int = {
    def exists(g: Int) = g >= 1 &&
      new java.io.File(root, f"gens/gen-$g%05d/MANIFEST.json").exists()
    val hint = try readText(new java.io.File(root, "CURRENT")).trim.toInt
      catch { case _: Exception => 0 }
    if (exists(hint)) {
      var g = hint
      while (exists(g + 1)) g += 1
      g
    } else committedGens(root).foldLeft(0)(math.max)
  }

  /** All committed (manifest-bearing) generation numbers, ascending.
    * A bare `gens/gen-N/` directory without a manifest is an abandoned
    * claim from a crashed or racing writer — never a generation. */
  private[operators] def committedGens(root: java.io.File): Seq[Int] = {
    val gensDir = new java.io.File(root, "gens")
    Option(gensDir.list()).getOrElse(Array.empty).toSeq
      .filter(_.startsWith("gen-"))
      .map(_.stripPrefix("gen-").toInt)
      .filter(g => new java.io.File(gensDir,
        f"gen-$g%05d/MANIFEST.json").exists())
      .sorted
  }

  private[graft] def manifestOf(root: java.io.File, gen: Int): Manifest =
    parseManifest(readText(
      new java.io.File(root, f"gens/gen-$gen%05d/MANIFEST.json")))

  /** Atomic pointer-hint swap: write beside, rename over (same
    * protocol as IvfIndex.writePointer — rename is atomic on a local
    * FS and the pointer file is tiny). */
  private def swapCurrent(root: java.io.File, gen: Int): Unit = {
    val tmp = new java.io.File(root, ".CURRENT.tmp")
    writeText(tmp, gen.toString)
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(root, "CURRENT").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Best-effort monotonic advance of the CURRENT hint. Synchronized
    * so in-JVM writers never regress it; a cross-process interleaving
    * could harmlessly leave it behind — readers resolve
    * [[committedGen]], never the hint. */
  private def advanceHint(root: java.io.File, gen: Int): Unit = synchronized {
    val cur = try readText(new java.io.File(root, "CURRENT")).trim.toInt
      catch { case _: Exception => 0 }
    if (gen > cur) swapCurrent(root, gen)
  }

  /** A writer-unique immutable data directory under `root/<kind>/`.
    * The generation guess in the name is cosmetic (the manifest, not
    * the filename, carries the committed seq); the nonce guarantees
    * two racing writers never collide on data files — they contend
    * only on the manifest link, where the filesystem arbitrates. */
  private[graft] def newDataDir(root: java.io.File, kind: String): java.io.File = {
    val guess = committedGen(root) + 1
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    new java.io.File(root, f"$kind/seg-$guess%05d-$nonce")
  }

  /** Optimistic-concurrency commit (the Iceberg protocol): build the
    * next manifest on the LATEST COMMITTED basis, then claim
    * generation basis+1 by hard-linking the fully-written manifest
    * file into `gens/gen-N/MANIFEST.json`. Link creation is atomic
    * and fails if the target exists, so exactly one writer wins each
    * generation number; the loser re-reads the (now advanced) basis,
    * REBASES through `build`, and retries at the next number —
    * generations stay contiguous and no segment is ever silently
    * dropped by a last-swap-wins race. `build` receives the basis
    * manifest and the generation number being claimed and must be
    * pure (it may run several times under contention). */
  /** Lost-race rebases across the JVM — contention observability for
    * specs and the LsmCommitBench evidence (a commit that never races
    * adds 0). */
  private[graft] val contentionRetries = new java.util.concurrent.atomic.AtomicLong

  private[graft] def commitManifest(root: java.io.File)(
      build: (Manifest, Int) => Manifest): Int = {
    var attempts = 0
    while (attempts < 10000) {
      val prev = committedGen(root)
      val basis =
        if (prev == 0) Manifest(Seq.empty, Seq.empty)
        else manifestOf(root, prev)
      val gen = prev + 1
      val dir = new java.io.File(root, f"gens/gen-$gen%05d")
      dir.mkdirs()
      var tmp: java.io.File = null
      try {
        tmp = java.io.File.createTempFile("MANIFEST-", ".tmp", dir)
        writeText(tmp, manifestJson(build(basis, gen)))
        // the commit point — an atomic create-fails-if-exists claim
        // (hard link locally, rename-without-overwrite on HDFS; see
        // CommitPrimitive for why each filesystem gets its own)
        CommitPrimitive.active.claim(tmp, new java.io.File(dir, "MANIFEST.json"))
        advanceHint(root, gen)
        return gen
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          if (tmp != null) tmp.delete() // lost the race: rebase and retry
          attempts += 1
          contentionRetries.incrementAndGet()
        case _: java.nio.file.NoSuchFileException =>
          // a retention pass swept our still-unclaimed gen dir out from
          // under the tmp write/link — recreate and retry; any OTHER
          // I/O failure (disk full, permissions) propagates: it is an
          // environment error, not contention, and retrying would both
          // mask it and miscount it as a lost race
          if (tmp != null) tmp.delete()
          attempts += 1
          contentionRetries.incrementAndGet()
        case e: Throwable =>
          // non-retryable: I/O errors AND conflicts thrown by `build`
          // (MetaConflict, ReplaceConflict, CompactConflict) — delete
          // the tmp before rethrowing. The bare gen dir is deliberately
          // LEFT: it may be shared with a concurrent committer that is
          // between mkdirs() and its own createTempFile, and deleting
          // it would fail that writer's tmp create with a plain
          // IOException (not the NoSuchFileException retry arm). A
          // manifest-less gen dir is a documented abandoned claim —
          // retention sweeps it below the cutoff.
          if (tmp != null) tmp.delete()
          throw e
      }
    }
    sys.error(s"manifest commit contention: gave up after $attempts attempts at $root")
  }

  // ── commit operations (shared by the batch timeline below and the
  //    streaming delta twin, which appends per micro-batch) ───────────

  /** Write the FIRST generation: one base segment, no tombstones.
    * Single-call contract: the base is committed once per fresh root
    * (two concurrent base commits would union two copies of the
    * corpus — a caller bug the LSM cannot resolve). */
  private[graft] def commitBase(root: java.io.File,
      basePostings: DataFrame, meta: Option[String] = None): Unit = {
    val seg = newDataDir(root, "segments")
    basePostings.write.mode(SaveMode.Overwrite).parquet(seg.toString)
    commitManifest(root)((basis, gen) =>
      Manifest(basis.segments :+ Segment(seg.toString, gen),
        basis.tombstones, meta = meta))
  }

  /** Thrown when a delta that declared `derivedUnder` meets a basis
    * whose meta has moved: a [[commitReplace]] (recluster) landed
    * between the delta's derivation and its commit, so its rows were
    * computed under the SUPERSEDED interpretation (the old codebook)
    * and committing them would mix interpretations in one view. The
    * writer re-reads the live meta, re-derives, and retries. */
  private[graft] final class MetaConflict extends Exception

  /** Append one increment: delta postings + tombstone ids become an
    * immutable segment pair whose seq is the generation the commit
    * WINS (assigned by [[commitManifest]] — under contention the same
    * data files are re-committed at the next number, rebased on the
    * competing writer's manifest). Cost: delta-sized postings build +
    * metadata — the standing corpus is never re-read. Concurrent
    * deltas touching the SAME doc_id resolve last-committer-wins by
    * the seq rule — the standard LSM semantic; ordered per-doc
    * updates remain the caller's contract (the streaming twin's CDC
    * stream delivers at most one change per doc per batch).
    * `batchId`, when given, is recorded in the manifest as the
    * transactional replay marker (see IndexDeltaStream).
    *
    * `derivedUnder` OPTS INTO meta-consistency checking for kinds
    * whose rows are a function of the manifest's meta (ivfvec rows
    * embed a codebook-dependent cid): pass the meta the rows were
    * derived under and the commit throws [[MetaConflict]] if a racing
    * replace moved it. Meta-less kinds (text postings) leave it None
    * — their rows are interpretation-free. */
  private[graft] def commitDelta(root: java.io.File,
      deltaPostings: DataFrame, tombstoneIds: DataFrame,
      batchId: Option[Long] = None,
      derivedUnder: Option[String] = None): Int = {
    val seg = newDataDir(root, "segments")
    val tomb = newDataDir(root, "tombstones")
    deltaPostings.write.mode(SaveMode.Overwrite).parquet(seg.toString)
    tombstoneIds.select(col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(tomb.toString)
    commitManifest(root) { (basis, gen) =>
      if (derivedUnder.exists(m => !basis.meta.contains(m)))
        throw new MetaConflict
      Manifest(basis.segments :+ Segment(seg.toString, gen),
        basis.tombstones :+ Segment(tomb.toString, gen), batchId,
        meta = basis.meta)
    }
  }

  /** Merge-on-read over the live generation: each segment minus the
    * doc_ids tombstoned AFTER it (seq rule above), unioned. Tombstone
    * tables are delta-sized → broadcast anti-joins; a probe's pushed
    * `g IN (…)` filter reaches every segment scan through the union
    * and the anti-join (plan-pinned in IncPostingsSpec). */
  private[graft] def readCurrent(s: SparkSession,
      root: java.io.File): DataFrame =
    readAt(s, root, committedGen(root))

  /** Time travel: the merged view AS OF generation `gen`. Manifests
    * and segments are immutable and never referenced-then-rewritten,
    * so every committed generation stays readable until a retention
    * pass drops it — the Iceberg/Delta snapshot contract. */
  private[graft] def readAt(s: SparkSession, root: java.io.File,
      gen: Int): DataFrame = {
    val m = manifestOf(root, gen)
    // Segments/tombstones are immutable and never rewritten in place
    // (the snapshot contract above), so the session-keyed ReadMemo is
    // safe: re-opening every segment's footer on each of the dozens of
    // merged-view consumers was pure serial driver cost.
    m.segments.map { seg =>
      val df = graft.ReadMemo.parquet(s, seg.path)
      val killers = m.tombstones.filter(_.seq > seg.seq)
      if (killers.isEmpty) df
      else {
        val dead = killers.map(t => graft.ReadMemo.parquet(s, t.path))
          .reduce(_ unionByName _).distinct()
        df.join(broadcast(dead), Seq("doc_id"), "left_anti")
      }
    }.reduce(_ unionByName _)
  }

  /** Default orphan-sweep grace for [[retain]]: five minutes, above
    * any realistic delta data-write, so retention racing an optimistic
    * committer never sweeps its not-yet-referenced data dirs. */
  private[graft] val RetainGraceMs = 300000L

  /** Thrown when a compaction's fold went stale under it: a CONCURRENT
    * compaction replaced the very segments this one folded, so the
    * rebase would double-commit their contents (the loser's fold PLUS
    * the winner's fold both contain every pre-fold row). Deltas never
    * conflict — only fold-vs-fold does (Iceberg's rewrite-files
    * conflict). */
  private[graft] final class CompactConflict extends Exception

  /** Pure rebase step of a compaction, conflict-checked: the folded
    * segment stands in for exactly `folded`'s segments and tombstones
    * at seq `foldedAsOf`; a racing DELTA's newer segments/tombstones
    * (seq > foldedAsOf) ride along and its tombstones still kill old
    * rows inside the fold (seq rule). If the basis no longer carries
    * exactly the folded file set at ≤ foldedAsOf — a racing COMPACTION
    * won — the fold is stale and must abort, not rebase. Factored out
    * for direct unit-testing of the conflict check. */
  private[graft] def compactRebase(basis: Manifest, folded: Manifest,
      foldedAsOf: Int, segPath: String): Manifest = {
    val basisOld = basis.segments.filter(_.seq <= foldedAsOf)
    val basisOldTombs = basis.tombstones.filter(_.seq <= foldedAsOf)
    if (basisOld.toSet != folded.segments.toSet ||
        basisOldTombs.toSet != folded.tombstones.toSet)
      throw new CompactConflict
    Manifest(
      Segment(segPath, foldedAsOf) +: basis.segments.filter(_.seq > foldedAsOf),
      basis.tombstones.filter(_.seq > foldedAsOf), meta = basis.meta)
  }

  /** LSM compaction: fold the live generation's segments + tombstones
    * into ONE fresh segment and commit it as the next generation. After
    * many streamed deltas the read path pays per-segment scans and
    * tombstone anti-joins (read amplification); compaction resets that
    * to a single bucket-laid-out segment while every PRIOR generation
    * stays readable (old manifests still reference the old segments —
    * a retention pass, not compaction, reclaims them; the
    * maint_vacuum_plan shape). Readers never block: the swap is the
    * same atomic manifest commit as any delta.
    *
    * Concurrency: a racing DELTA rides through the rebase (see
    * [[compactRebase]]); a racing COMPACTION conflicts — the loser
    * ABORTS (compaction is an optimization; aborting is always safe),
    * leaves its orphaned fold segment to retention's grace-aware
    * sweep, and returns the live generation unchanged. Returns the
    * committed (or, on abort, current) generation. */
  private[graft] def compact(s: SparkSession, root: java.io.File,
      layout: Seq[String] = Seq("g", "doc_id")): Int = {
    val foldedAsOf = committedGen(root)
    val folded = manifestOf(root, foldedAsOf)
    val seg = newDataDir(root, "segments")
    val lay = layout.map(col)
    readAt(s, root, foldedAsOf)
      .repartitionByRange(lay: _*)
      .sortWithinPartitions(lay: _*)
      .write.mode(SaveMode.Overwrite).parquet(seg.toString)
    try commitManifest(root)((basis, gen) =>
      compactRebase(basis, folded, foldedAsOf, seg.toString))
    catch {
      case _: CompactConflict =>
        log.info(s"[incpostings] compaction at $root aborted: " +
          "a concurrent compaction replaced the folded segments")
        committedGen(root)
    }
  }

  /** Thrown when a whole-state replacement went stale under it: ANY
    * commit (delta, compaction, or another replace) landed since the
    * basis was read. Unlike [[compactRebase]] — where a racing delta's
    * rows are valid and ride through — a replace REINTERPRETS every
    * row (the recluster shape: rows re-derived under new kind-owned
    * meta, e.g. a retrained codebook), so rows committed against the
    * old meta cannot ride: they would mix interpretations in one view.
    * The caller re-reads the advanced state and re-derives. */
  private[graft] final class ReplaceConflict extends Exception

  /** Whole-state optimistic replacement: commit `rows` as the ONLY
    * segment (no tombstones — every delete is already applied in the
    * derivation) with fresh kind-owned `meta`, conflict-checked
    * against the exact basis the caller derived from. This is the
    * RECLUSTER commit for the ivfvec kind — retrain the codebook on
    * the merged view, reassign, publish codebook + assignments in one
    * atomic generation — and, generically, any maintenance that
    * re-derives the whole artifact under new parameters. Prior
    * generations stay readable with THEIR meta (time travel across a
    * recluster reads each view with the codebook that produced it). */
  private[graft] def commitReplace(s: SparkSession, root: java.io.File,
      rows: DataFrame, basisGen: Int, meta: Option[String],
      layout: Seq[String]): Int = {
    val basisM = manifestOf(root, basisGen)
    val seg = newDataDir(root, "segments")
    val lay = layout.map(col)
    rows.repartitionByRange(lay: _*).sortWithinPartitions(lay: _*)
      .write.mode(SaveMode.Overwrite).parquet(seg.toString)
    commitManifest(root) { (basis, gen) =>
      if (basis.segments != basisM.segments ||
          basis.tombstones != basisM.tombstones)
        throw new ReplaceConflict
      Manifest(Seq(Segment(seg.toString, basisGen)), Seq.empty, None, meta)
    }
  }

  /** Segment count of the live generation — the read-amplification
    * gauge maintenance policies trigger on. */
  private[graft] def liveSegmentCount(root: java.io.File): Int =
    manifestOf(root, committedGen(root)).segments.size

  /** Is `batchId` already recorded in a retained manifest? The
    * transactional replay check a restarted streaming maintainer runs
    * when its fast-path marker file is missing (crash between manifest
    * link and marker write — see IndexDeltaStream.applyBatch). Scans
    * manifests NEWEST-FIRST and stops at the first one carrying an
    * OLDER batchId: a single maintainer commits batches in order, so
    * nothing deeper can hold this batch. Cost is O(non-batch commits
    * since the last batch) — compactions in between — not O(total
    * retained generations), so a fresh batch's (always-miss) check
    * stays cheap on an unboundedly-retained timeline. */
  private[graft] def isBatchCommitted(root: java.io.File, batchId: Long): Boolean = {
    val gens = committedGens(root)
    for (g <- gens.reverseIterator) {
      manifestOf(root, g).batchId match {
        case Some(b) if b == batchId => return true
        case Some(b) if b < batchId => return false
        case _ => // newer batch or non-batch commit (compaction): keep looking
      }
    }
    false
  }

  /** Retention: expire every generation older than the newest
    * `keepGens` and delete the segment/tombstone files no surviving
    * manifest references — the expire-snapshots half of the lifecycle
    * (compaction resets read amplification; retention reclaims disk).
    * Deletion order is crash-safe: manifests of expired generations go
    * FIRST, so a reader can never resolve a generation whose files are
    * mid-delete — after a crash the worst case is unreferenced segment
    * files, which the next retention pass re-collects (the
    * maint_vacuum_plan contract). The live generation is always kept.
    *
    * READER-HORIZON CONTRACT: expired generations' files are deleted
    * immediately, so a reader that resolved [[committedGen]] must
    * finish its scan before that generation leaves the retention
    * window — i.e. within `keepGens` subsequent commits. With
    * keepGens=1 a lagging reader racing the next commit+retention can
    * lose segment files mid-scan; size keepGens to the slowest
    * reader's horizon (Iceberg's snapshot-expiry contract — there is
    * no reader lease).
    *
    * `graceMs` guards CONCURRENT WRITERS: an optimistic committer
    * writes its data dirs before linking its manifest, so for that
    * window they are unreferenced — a racing retention pass must not
    * sweep them (the committer's manifest link would still succeed
    * and publish a generation referencing deleted files). Data dirs
    * younger than `graceMs` are skipped (Iceberg's
    * remove-orphan-files `older_than`). The DEFAULT is the safe
    * [[RetainGraceMs]]; pass 0 only when the caller can prove no
    * other writer exists (a single-writer test, a quiesced offline
    * maintenance window). Returns the deleted file-set roots. */
  private[graft] def retain(s: SparkSession, root: java.io.File,
      keepGens: Int, graceMs: Long = RetainGraceMs): Seq[String] = {
    require(keepGens >= 1, "retention must keep at least the live generation")
    val live = committedGen(root)
    val cutoff = live - keepGens + 1
    val gensDir = new java.io.File(root, "gens")
    // Only manifest-bearing generations count; a bare gen dir below
    // the cutoff is an abandoned claim and is swept with the dead.
    val allGens = Option(gensDir.list()).getOrElse(Array.empty)
      .filter(_.startsWith("gen-")).map(_.stripPrefix("gen-").toInt).sorted
      .filter(g => g < cutoff || new java.io.File(gensDir,
        f"gen-$g%05d/MANIFEST.json").exists())
    val (dead, kept) = allGens.partition(_ < cutoff)
    if (dead.isEmpty) return Seq.empty
    val referenced = kept.flatMap { g =>
      val m = manifestOf(root, g)
      (m.segments ++ m.tombstones).map(_.path) ++ m.meta
    }.toSet
    val hfs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sparkContext.hadoopConfiguration)
    // 1. Expire manifests — readers lose the pointer before files go.
    dead.foreach { g =>
      hfs.delete(new org.apache.hadoop.fs.Path(
        new java.io.File(gensDir, f"gen-$g%05d").toString), true)
    }
    // 2. Reclaim files referenced by NO surviving generation (sparing
    //    dirs inside the concurrent-writer grace window).
    val now = System.currentTimeMillis()
    // `meta` holds kind-owned attachments (e.g. the ivfvec codebooks);
    // an attachment referenced by NO surviving manifest — a
    // reclustered-away codebook past its horizon — is reclaimed like
    // any other expired file set.
    val deletable = Seq("segments", "tombstones", "meta").flatMap { kind =>
      Option(new java.io.File(root, kind).listFiles()).getOrElse(Array.empty)
        .filter(f => !referenced.contains(f.toString) &&
          now - f.lastModified() >= graceMs)
        .map(_.toString)
    }
    deletable.foreach(p =>
      hfs.delete(new org.apache.hadoop.fs.Path(p), true))
    deletable
  }

  // ── the simulated v1 → v2 timeline over the documents table ────────

  /** v2-side docs that are NEW OR CHANGED — the only docs the
    * increment tokenizes (delta-sized, the whole point): residue-31
    * edits with their new text, residue-89 adds at the shifted id. */
  private[graft] def deltaDocs(docs: DataFrame, shift: Long): DataFrame = {
    val edited = docs
      .where(col("doc_id") % 97 =!= 0 && col("doc_id") % 31 === 0)
      .withColumn("text", concat(col("text"), lit(" v2")))
    val added = docs.where(col("doc_id") % 89 === 0)
      .withColumn("doc_id", col("doc_id") + lit(shift))
    edited.unionByName(added)
  }

  /** v1 doc_ids whose postings die in the increment: drops AND edits
    * (an edit's old rows are dead; its new rows ride the delta
    * segment at the tombstone's seq, so the LSM visibility rule keeps
    * exactly the new ones). */
  private[graft] def tombstoneDocIds(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") % 97 === 0 ||
        (col("doc_id") % 97 =!= 0 && col("doc_id") % 31 === 0))
      .select(col("doc_id"))

  // ── build-once index roots per corpus generation ───────────────────

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Build-once index root for `dir`, parameterized by index `kind`
    * and its row builder so the trigram and positional timelines share
    * one build sequence. The build runs the whole timeline: base
    * commit over v1, then the delta commit; per-phase wall times are
    * logged so the decade tables can attribute base vs delta cost. */
  private def indexRoot(s: SparkSession, dir: String, kind: String,
      rowsOf: DataFrame => DataFrame,
      shift: Long = Maintenance.AddShift): java.io.File =
    lsmArtifact(s, dir, kind) { root =>
      val docs = Tables(s, dir, "documents")
      val t0 = System.nanoTime()
      commitBase(root, rowsOf(docs))
      val t1 = System.nanoTime()
      commitDelta(root, rowsOf(deltaDocs(docs, shift)),
        tombstoneDocIds(docs))
      val t2 = System.nanoTime()
      log.info(f"[incpostings] $dir $kind base build ${(t1 - t0) / 1e9}%.2f s, " +
        f"delta build+commit ${(t2 - t1) / 1e9}%.2f s")
    }

  /** An LSM timeline root published through [[ArtifactCache]] as the
    * artifact `lsm-<kind>`: `buildAt` runs the timeline's commits in a
    * fresh directory, and the root is read-only once returned. `src`
    * names the corpus table the fingerprint tracks — the text kinds
    * key on `documents`, the vector kinds ([[IvfIndex]]'s `ivfvec*`)
    * on `embeddings`. */
  private[graft] def lsmArtifact(s: SparkSession, dir: String,
      kind: String, src: String = "documents")(
      buildAt: java.io.File => Unit): java.io.File =
    ArtifactCache.dir(s, dir, s"lsm-$kind", Seq(src))(buildAt)

  /** The full index lifecycle as ONE artifact (r11 verdict #4):
    * base commit over v1 → snapshot-diff delta commit → pre-retention
    * probe snapshot → compaction → retention to the single live
    * generation. The composed inventory query below probes the
    * RETAINED index and carries the before/after probe drift, so any
    * cross-op contract break (a compaction losing a tombstone, a
    * retention sweeping a live segment) fails the hash GATE, not just
    * a spec. */
  private def lifecycleRoot(s: SparkSession, dir: String): java.io.File =
    lsmArtifact(s, dir, "lifecycle") { root =>
      val docs = Tables(s, dir, "documents")
      commitBase(root, TextOps.trigramRowsOf(docs))
      commitDelta(root, TextOps.trigramRowsOf(
        deltaDocs(docs, Maintenance.AddShift)), tombstoneDocIds(docs))
      trigramProbe(s, dir, readCurrent(s, root))
        .write.mode(SaveMode.Overwrite)
        .parquet(new java.io.File(root, "probe-before").toString)
      compact(s, root)
      // graceMs = 0: the artifact build is single-writer by
      // construction, so immediate reclamation is provably safe (and
      // the query's n_gens_retained/probe checks want the terminal
      // retained state, not a grace-deferred one).
      retain(s, root, keepGens = 1, graceMs = 0L)
    }

  /** The live merged trigram postings view for the inventory queries. */
  private[graft] def mergedPostings(s: SparkSession, dir: String): DataFrame =
    readCurrent(s, indexRoot(s, dir, "trigram", TextOps.trigramRowsOf))

  /** The live merged POSITIONAL postings view — the same LSM timeline
    * applied to the phrase index's (doc_id, p, tok) layout, so the
    * engine's whole text-index family is delta-maintainable: trigram
    * (substring/regex), positional (phrase/boolean), and BM25 (below —
    * the r11 verdict #3 port; the older idx_bm25_inc_search keeps the
    * append-only partial-stats merge path alive beside it). */
  private[graft] def mergedPositional(s: SparkSession, dir: String): DataFrame =
    readCurrent(s, indexRoot(s, dir, "positional", TextOps.positionalRowsOf))

  /** (doc_id, token, tf, dl) — the BM25 postings layout on the LSM
    * timeline: term frequency per (doc, token) with the document
    * length DENORMALIZED into every row (PostingsIndex's doc-values
    * trick), so scoring joins no doclen table. One row per (doc,
    * token) by construction, and the timeline's tombstones keep that
    * invariant across edits. */
  private[graft] def bm25RowsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.Text.tokens(col("text")).as("tok"))
      .withColumn("dl", size(col("tok")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(col("tok")).as("token"))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .select(col("doc_id"), col("token"), col("tf"), col("dl"))

  /** (doc_id, dl) — one row per document, INCLUDING zero-token docs
    * (they count into n_docs/avgdl but have no postings rows). Kept as
    * its OWN tiny LSM kind so BM25's corpus stats are exact under
    * deletes without scanning the postings: additive corpusstats
    * partials (the retired pre-r13 append path) cannot subtract a
    * tombstoned doc's dl, and merge-on-read over a doc-count-sized
    * two-column table is the scale-correct alternative. */
  private[graft] def doclenRowsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(graft.functions.Text.tokens(col("text"))).cast("long").as("dl"))

  private[graft] def mergedBm25(s: SparkSession, dir: String): DataFrame =
    readCurrent(s, indexRoot(s, dir, "bm25", bm25RowsOf))

  private[graft] def mergedDoclens(s: SparkSession, dir: String): DataFrame =
    readCurrent(s, indexRoot(s, dir, "bm25dl", doclenRowsOf))

  /** idx_bm25_inc_search's timeline (r12 directive #6): the v1 corpus
    * committed in two LSM increments — base (doc_id % 5 != 0) plus one
    * delta commit for the remaining fifth — replacing the retired
    * pre-LSM append-only partial-stats path, so the engine has exactly
    * ONE increment mechanism per maintained index family. The final
    * state is the whole v1 corpus; the probe shares idx_bm25_topk's
    * oracle (merge-on-read == full build, persisted). */
  private[operators] def v1SplitRoot(s: SparkSession, dir: String,
      kind: String, rowsOf: DataFrame => DataFrame): java.io.File =
    lsmArtifact(s, dir, kind) { root =>
      val docs = Tables(s, dir, "documents")
      val isBase = col("doc_id") % 5 =!= 0
      commitBase(root, rowsOf(docs.where(isBase)))
      commitDelta(root, rowsOf(docs.where(!isBase)),
        docs.select(col("doc_id")).limit(0))
    }

  /** Okapi BM25 top-k over a merged postings view + doclen view — the
    * idx_bm25_topk scoring recurrence (k1=1.2, b=0.75, the 1e-6
    * idf/partial grids before the 1e-4 score grid). ONE definition
    * shared by the gated idx_bm25_inc query and IncPostingsBench's
    * decade probe, so the benched probe IS the query the correctness
    * gate certifies. */
  private[graft] def bm25Probe(postings: DataFrame, doclens: DataFrame,
      terms: Seq[String], k: Int): DataFrame = {
    import graft.functions.Num
    val post = postings.where(col("token").isin(terms: _*))
    val cs = doclens
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val idf = Num.roundp(org.apache.spark.sql.functions.log(
      lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)), 6)
    val stats = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(cs).withColumn("idf", idf)
    val denom = col("tf") +
      lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))
    val part = Num.roundp(col("idf") * (col("tf") * lit(2.2)) / denom, 6)
    post.join(broadcast(stats), "token")
      .select(col("doc_id"), part.as("p"))
      .groupBy(col("doc_id"))
      .agg(Num.roundp(sum(col("p")), 4).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** (doc_id, band, key) MinHash-LSH band rows for any (doc_id, text)
    * frame — the dedup family's candidate-generation layout (Dedup's
    * shingle → k-minhash → banded-key recurrence), here as an LSM
    * kind so the corpus band index is DELTA-maintainable: at 100 TB
    * the standing band table is the artifact every incremental-dedup
    * batch probes, and re-minhashing the corpus on every corpus
    * change is the unpayable cost this timeline avoids (the same
    * argument as the trigram/positional/BM25 kinds). */
  private[graft] def lshBandRowsOf(docs: DataFrame): DataFrame =
    Dedup.bandRowsOf(Dedup.minhashesOf(Dedup.shinglesOf(
      docs.select(col("doc_id"), col("text")))))

  /** The lshband timeline root. The BASE commit reads Dedup's
    * persisted v1 minhash artifact (signatures already exist for the
    * batch dedup family — banding a K-column signature table is ~free)
    * rather than re-minhashing the corpus; the DELTA commit minhashes
    * only the arrivals (delta-sized). */
  private def lshBandRoot(s: SparkSession, dir: String): java.io.File =
    lsmArtifact(s, dir, "lshband") { root =>
      val docs = Tables(s, dir, "documents")
      commitBase(root, Dedup.bandRows(s, dir))
      commitDelta(root, lshBandRowsOf(deltaDocs(docs, Maintenance.AddShift)),
        tombstoneDocIds(docs))
    }

  /** The live merged (doc_id, band, key) view for the dedup queries. */
  private[operators] def mergedLshBands(s: SparkSession, dir: String): DataFrame =
    readCurrent(s, lshBandRoot(s, dir))

  /** Fresh band rebuild over the v2 corpus — the parity baseline for
    * the lshband timeline (same contract as freshV2Postings). */
  private[operators] def freshV2LshBands(s: SparkSession, dir: String): DataFrame =
    ArtifactCache.parquet(s, dir, "lshband-v2", Seq("documents")) {
      lshBandRowsOf(Maintenance.snapshotV2(Tables(s, dir, "documents")))
    }

  /** Fresh full rebuild over the v2 corpus — the parity baseline the
    * increment must equal (and the cost it avoids). Artifact-cached so
    * the parity query's repeated runs measure the probe, not the
    * rebuild. */
  private def freshV2Postings(s: SparkSession, dir: String): DataFrame =
    ArtifactCache.parquet(s, dir, "trigram-postings-v2", Seq("documents")) {
      TextOps.trigramRowsOf(Maintenance.snapshotV2(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("text")))
    }

  /** Fresh positional rebuild over the v2 corpus — the parity baseline
    * for the positional timeline (same contract as freshV2Postings). */
  private def freshV2Positional(s: SparkSession, dir: String): DataFrame =
    ArtifactCache.parquet(s, dir, "positional-postings-v2", Seq("documents")) {
      TextOps.positionalRowsOf(Maintenance.snapshotV2(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("text")))
    }

  /** Fresh BM25-layout rebuild over the v2 corpus — the parity
    * baseline for the BM25 timeline. */
  private def freshV2Bm25(s: SparkSession, dir: String): DataFrame =
    ArtifactCache.parquet(s, dir, "bm25-postings-v2", Seq("documents")) {
      bm25RowsOf(Maintenance.snapshotV2(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("text")))
    }

  /** Substring search through a trigram postings view: all-grams-
    * present candidates, exact contains() verify against the v2
    * corpus — the probe shared by idx_postings_inc and the lifecycle
    * query. */
  private def trigramProbe(s: SparkSession, dir: String,
      postings: DataFrame): DataFrame = {
    val grams = TextOps.TrigramPattern.sliding(3).toSeq.distinct
    val v2 = Maintenance.snapshotV2(Tables(s, dir, "documents"))
    postings
      .where(col("g").isin(grams: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("ng"))
      .where(col("ng") === grams.length)
      .select(col("doc_id"))
      .join(v2, "doc_id")
      .where(col("text").contains(TextOps.TrigramPattern))
      .select(col("doc_id"))
  }

  val queries: Map[String, Relational.Q] = Map(
    // ── substring search through the MERGED index: all-grams-present
    // candidates from base∪delta minus tombstones, exact contains()
    // verify against the v2 text. The oracle recomputes the answer
    // from the v2 corpus directly, so a hash match proves the
    // increment preserved search semantics end to end — the persisted
    // form of the inc_postings_merge invariant at the trigram layer. ─
    "idx_postings_inc" -> ((s, dir) =>
      trigramProbe(s, dir, mergedPostings(s, dir))),

    // ── structural parity: the merged view must equal a fresh v2
    // rebuild as a MULTISET of (doc_id, g) rows — multiset drift in
    // both directions plus the rebuild's own summary stats. The oracle
    // pins the summary from the corpus and asserts both differences are
    // zero; any row the merge lost or leaked breaks the hash. ────────
    "idx_postings_inc_parity" -> ((s, dir) => {
      val merged = mergedPostings(s, dir)
      val fresh = freshV2Postings(s, dir)
      val stats = fresh.agg(count(lit(1)).as("n_postings"),
        countDistinct(col("g")).as("n_grams"),
        countDistinct(col("doc_id")).as("n_docs"))
      multisetDrift(merged, fresh).crossJoin(stats)
    }),

    // ── Phrase search through the MERGED positional index: the
    // idx_phrase_search algorithm (filter each term's postings first,
    // intersect on (doc, p+1)) over base∪delta minus tombstones. The
    // oracle recomputes adjacency from the v2 corpus, so a hash match
    // proves the increment preserved PHRASE semantics — positions and
    // all — not just doc membership. ─────────────────────────────────
    "idx_phrase_inc" -> ((s, dir) => {
      val pos = mergedPositional(s, dir)
        .where(col("tok").isin("table", "part"))
      val first = pos.where(col("tok") === "table").select(col("doc_id"), col("p"))
      val second = pos.where(col("tok") === "part")
        .select(col("doc_id"), (col("p") - 1).as("p"))
      first.join(second, Seq("doc_id", "p"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_occurrences"))
    }),

    // ── Structural parity for the positional timeline: merged ≡ fresh
    // v2 rebuild as a MULTISET of (doc_id, p, tok) rows. Positions make
    // this strictly stronger than the trigram parity — an off-by-one in
    // the delta's posexplode would pass doc-membership checks and fail
    // here. ──────────────────────────────────────────────────────────
    "idx_phrase_inc_parity" -> ((s, dir) => {
      val merged = mergedPositional(s, dir)
      val fresh = freshV2Positional(s, dir)
      val stats = fresh.agg(count(lit(1)).as("n_postings"),
        countDistinct(col("tok")).as("n_toks"),
        countDistinct(col("doc_id")).as("n_docs"))
      multisetDrift(merged, fresh).crossJoin(stats)
    }),

    // ── Okapi BM25 top-10 through the MERGED LSM index (r11 verdict
    // #3): the idx_bm25_topk scoring recurrence (k1=1.2, b=0.75, the
    // same 1e-6/1e-4 rounding grids) over base∪delta minus tombstones,
    // with exact corpus stats from the doclen twin timeline. The
    // oracle recomputes BM25 from the v2 corpus directly, so a hash
    // match proves generations/tombstones/compaction-ready storage
    // preserved RANKED-retrieval semantics — stats and all — not just
    // membership. ────────────────────────────────────────────────────
    "idx_bm25_inc" -> ((s, dir) =>
      bm25Probe(mergedBm25(s, dir), mergedDoclens(s, dir),
        PostingsIndex.Terms, 10)),

    // ── The composed index lifecycle (r11 verdict #4): ONE query that
    // runs the whole timeline — base commit, snapshot-diff delta,
    // compaction, retention to a single generation — then probes the
    // RETAINED index. Result rows are the substring hits over the
    // surviving compacted segment, annotated with (a) the multiset
    // drift between this probe and the pre-retention probe snapshot
    // (must be 0/0: compaction+retention may not move a probe) and
    // (b) the terminal generation number and retained-manifest count
    // (pins that compaction committed gen 3 and retention expired
    // gens 1-2). The oracle recomputes the hits from the v2 corpus and
    // asserts the constants, so any cross-op drift fails the GATE. ───
    "pipe_index_lifecycle" -> ((s, dir) => {
      val root = lifecycleRoot(s, dir)
      val after = trigramProbe(s, dir, readCurrent(s, root))
      val before = s.read.parquet(
        new java.io.File(root, "probe-before").toString)
      val drift = after.exceptAll(before)
        .agg(count(lit(1)).as("probe_only_after"))
        .crossJoin(before.exceptAll(after)
          .agg(count(lit(1)).as("probe_only_before")))
      after.crossJoin(drift)
        .withColumn("live_gen", lit(committedGen(root)).cast("long"))
        .withColumn("n_gens_retained",
          lit(committedGens(root).size).cast("long"))
    }),

    // ── Structural parity for the BM25 timeline: merged ≡ fresh v2
    // rebuild as a MULTISET of (doc_id, token, tf, dl) rows — tf and
    // the denormalized dl make this stronger than membership parity
    // (a lost tombstone duplicating a row, or a stale dl on an edited
    // doc, fails here). ──────────────────────────────────────────────
    "idx_bm25_inc_parity" -> ((s, dir) => {
      val merged = mergedBm25(s, dir)
      val fresh = freshV2Bm25(s, dir)
      val stats = fresh.agg(count(lit(1)).as("n_postings"),
        countDistinct(col("token")).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("tf")).as("sum_tf"))
      multisetDrift(merged, fresh).crossJoin(stats)
    })
  )

  /** (only_merged, only_fresh): sizes of the multiset differences
    * merged∖fresh and fresh∖merged — exactly what the parity queries'
    * former `exceptAll(...).agg(count)` pair computed, in HALF the
    * passes. exceptAll plans each direction as its own full shuffle of
    * BOTH tables (4 table-shuffles total, all rows moved); aggregating
    * each side once by all columns and full-outer-joining the count
    * tables needs 2 map-side-combined aggregations whose output
    * partitioning the join then reuses (zero additional exchange).
    * Σ max(mc − fc, 0) over keys IS |merged ∖ fresh| by the multiset
    * definition. Null-safe key equality (<=>), matching exceptAll's
    * null semantics — the row layouts here are null-free anyway. */
  private[operators] def multisetDrift(merged: DataFrame,
      fresh: DataFrame): DataFrame = {
    val cols = fresh.columns.toSeq
    val m = merged.groupBy(cols.map(col): _*).agg(count(lit(1)).as("_mc"))
    val f = fresh.groupBy(cols.map(col): _*).agg(count(lit(1)).as("_fc"))
    val cond = cols.map(c => m(c) <=> f(c)).reduce(_ && _)
    val mc = coalesce(col("_mc"), lit(0L))
    val fc = coalesce(col("_fc"), lit(0L))
    m.join(f, cond, "full_outer")
      .agg(
        coalesce(sum(greatest(mc - fc, lit(0L))), lit(0L)).as("only_merged"),
        coalesce(sum(greatest(fc - mc, lit(0L))), lit(0L)).as("only_fresh"))
  }

  /** DuckDB v2-corpus CTE shared by both oracles (snapshotV2 in SQL —
    * the maint_snapshot_diff construction). */
  private[operators] val sqlV2 =
    """WITH kept AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
      |edited AS (SELECT doc_id,
      |    CASE WHEN doc_id % 31 = 0 THEN text || ' v2' ELSE text END AS text
      |  FROM kept),
      |added AS (SELECT doc_id + 10000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 89 = 0),
      |v2 AS (SELECT doc_id, text FROM edited
      |       UNION ALL SELECT doc_id, text FROM added)""".stripMargin

  val oracles: Map[String, String] = Map(
    "idx_postings_inc" ->
      s"""$sqlV2
         |SELECT doc_id FROM v2
         |WHERE contains(text, '${TextOps.TrigramPattern.replace("'", "''")}')""".stripMargin,

    "idx_phrase_inc" ->
      s"""$sqlV2,
         |tk AS (
         |  SELECT doc_id, CAST(u.p AS BIGINT) AS p, u.tok AS tok
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(range(len(tk0)),
         |      i -> {'p': i, 'tok': tk0[i+1]})) AS u
         |    FROM (SELECT doc_id,
         |      list_filter(string_split(text, ' '), t -> t <> '') AS tk0
         |      FROM v2)))
         |SELECT a.doc_id, count(*) AS n_occurrences
         |FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.p = a.p + 1
         |WHERE a.tok = 'table' AND b.tok = 'part'
         |GROUP BY 1""".stripMargin,

    "idx_phrase_inc_parity" ->
      s"""$sqlV2,
         |tk AS (
         |  SELECT doc_id, u.tok AS tok
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(range(len(tk0)),
         |      i -> {'p': i, 'tok': tk0[i+1]})) AS u
         |    FROM (SELECT doc_id,
         |      list_filter(string_split(text, ' '), t -> t <> '') AS tk0
         |      FROM v2)))
         |SELECT CAST(0 AS BIGINT) AS only_merged,
         |  CAST(0 AS BIGINT) AS only_fresh,
         |  CAST(count(*) AS BIGINT) AS n_postings,
         |  CAST(count(DISTINCT tok) AS BIGINT) AS n_toks,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM tk""".stripMargin,

    "pipe_index_lifecycle" ->
      s"""$sqlV2
         |SELECT doc_id,
         |  CAST(0 AS BIGINT) AS probe_only_after,
         |  CAST(0 AS BIGINT) AS probe_only_before,
         |  CAST(3 AS BIGINT) AS live_gen,
         |  CAST(1 AS BIGINT) AS n_gens_retained
         |FROM v2
         |WHERE contains(text, '${TextOps.TrigramPattern.replace("'", "''")}')""".stripMargin,

    // The inline BM25 oracle re-targeted at the v2 corpus: splice the
    // v2 CTE chain in front and point the tokenization at it.
    "idx_bm25_inc" ->
      (sqlV2 + ",\n" + TextOps.sqlBm25TopK.stripPrefix("WITH ")
        .replace("FROM documents", "FROM v2")),

    "idx_bm25_inc_parity" ->
      s"""$sqlV2,
         |tk AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
         |    t -> t <> '')) AS tok
         |  FROM v2),
         |pt AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM tk GROUP BY doc_id, tok)
         |SELECT CAST(0 AS BIGINT) AS only_merged,
         |  CAST(0 AS BIGINT) AS only_fresh,
         |  CAST(count(*) AS BIGINT) AS n_postings,
         |  CAST(count(DISTINCT tok) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(sum(tf) AS BIGINT) AS sum_tf
         |FROM pt""".stripMargin,

    "idx_postings_inc_parity" ->
      s"""$sqlV2,
         |tg AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id, unnest(list_transform(range(len(text) - 2),
         |      i -> substr(text, CAST(i + 1 AS INT), 3))) AS g
         |    FROM v2 WHERE len(text) >= 3))
         |SELECT CAST(0 AS BIGINT) AS only_merged,
         |  CAST(0 AS BIGINT) AS only_fresh,
         |  CAST(count(*) AS BIGINT) AS n_postings,
         |  CAST(count(DISTINCT g) AS BIGINT) AS n_grams,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM tg""".stripMargin
  )
}
