package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The engine's one build-once / read-many store for derived-corpus
  * artifacts: the dedup family's shingle/signature views, the graph
  * family's edge tables, the postings and IVF indexes, and every
  * [[IncPostings]] LSM timeline. An artifact is a pure function of its
  * source tables; production pipelines materialize such tables once
  * and refresh them when the source changes, they do not recompute
  * them per query session.
  *
  * Layout: one root per (corpus dir, source table set, fingerprint),
  * `<Root>/<dir>-<sources>-<fp>`, holding each artifact as a
  * uniquely-named `<name>-<uuid>` directory plus its `<name>.ptr`
  * pointer. The fingerprint is a cheap content key (length + mtime) of
  * every source file, so regenerated testdata invalidates
  * automatically; a cold build evicts sibling roots of older corpus
  * generations. Eviction matches only `<dir>-<sources>-` followed by a
  * BARE fingerprint, so a corpus dir whose name extends another's
  * (`x` vs `x-documents-y`) is never mistaken for a stale generation.
  *
  * Publication protocol: the build runs in the unique directory (never
  * contended, with the `_GRAFT_DONE` marker inside), and the commit
  * point is claiming the `<name>.ptr` pointer FILE — whose content is
  * the winning directory name — through `CommitPrimitive.active`
  * (POSIX hard link locally, Hadoop rename-without-overwrite on a lake
  * filesystem). "Pointer exists" and "a complete directory is
  * published" are the SAME event, so no interleaving of builders and
  * readers can observe a half-built artifact. A losing racer deletes
  * its own directory and follows the winner's pointer; a killed build
  * leaves only an unreferenced directory (ignorable garbage, evicted
  * with its corpus generation). In-JVM, a per-artifact lock serializes
  * builders, so a build runs at most once per JVM and a second caller
  * waits for the first one's directory instead of building beside it.
  * A build may open other artifacts (the LSM serving fold reads its
  * timeline, the lshband timeline reads Dedup's signatures); those are
  * different keys taken in a fixed order, so nested builds cannot
  * deadlock.
  */
private[graft] object ArtifactCache {

  // In-JVM memo: (root, name) → published directory.
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  // Per-artifact build lock: TrieMap.getOrElseUpdate may evaluate the
  // op concurrently in racing threads, so the publish section takes a
  // monitor keyed by (root, name) — one build per artifact per JVM.
  private val locks =
    scala.collection.concurrent.TrieMap.empty[(String, String), Object]

  private[graft] val Root = "/tmp/graft-artifact-cache"

  /** Marker file name INSIDE a published artifact directory. The
    * leading underscore keeps Spark's parquet reader from treating it
    * as data (same convention as `_SUCCESS`). */
  private[graft] val Done = "_GRAFT_DONE"

  /** The published directory of artifact `name` over `sources` (table
    * names under `dir`), running `buildAt` on a fresh empty directory
    * when no build is published yet. `buildAt` may lay out anything
    * inside it (parquet tables, IVF generations, an LSM timeline); the
    * directory is immutable to readers once this returns. */
  def dir(s: SparkSession, dir: String, name: String, sources: Seq[String])(
      buildAt: java.io.File => Unit): java.io.File = {
    val fp = sources.map { t =>
      val f = new java.io.File(s"$dir/$t.parquet")
      s"${f.length()}-${f.lastModified()}"
    }.mkString("_")
    // The eviction identity (prefix) must name the SOURCE TABLE SET,
    // not just the corpus dir: artifact sets fingerprinting different
    // tables (documents, embeddings, lineitem+orders) are different
    // namespaces, and a shared prefix would let one family's build
    // evict the other's live root as a "stale generation" mid-session.
    val prefix =
      s"${dir.replaceAll("[^A-Za-z0-9._-]", "_")}-${sources.mkString("+")}-"
    val root = new java.io.File(Root, prefix + fp)
    val key = (root.toString, name)
    new java.io.File(memo.getOrElse(key,
      locks.getOrElseUpdate(key, new Object).synchronized {
        memo.getOrElseUpdate(key, publish(s, root, prefix, name, buildAt))
      }))
  }

  /** A parquet artifact: [[dir]] with one table written at the
    * directory, read through the session frame memo. */
  def parquet(s: SparkSession, dir: String, name: String,
      sources: Seq[String])(build: => DataFrame): DataFrame = {
    val path = this.dir(s, dir, name, sources) { d =>
      build.write.mode(SaveMode.Overwrite).parquet(d.toString)
    }
    // Published artifact dirs are write-once (pointer-committed), so
    // the session-keyed frame memo is safe — and saves the ~50 ms
    // footer/file-index rebuild every re-open paid (see ReadMemo).
    graft.ReadMemo.parquet(s, path.toString)
  }

  private def ptrFile(root: java.io.File, name: String): java.io.File =
    new java.io.File(root, s"$name.ptr")

  /** The published directory for `name`, resolved through its claimed
    * pointer — None until some process's claim has landed. */
  private def resolve(root: java.io.File, name: String): Option[String] = {
    val p = ptrFile(root, name)
    if (!p.exists()) None
    else Some(new java.io.File(root,
      java.nio.file.Files.readString(p.toPath).trim).toString)
  }

  private def publish(s: SparkSession, root: java.io.File, prefix: String,
      name: String, buildAt: java.io.File => Unit): String = {
    resolve(root, name) match {
      case Some(dir) => return dir
      case None =>
    }
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sparkContext.hadoopConfiguration)
    def del(f: java.io.File): Unit =
      fs.delete(new org.apache.hadoop.fs.Path(f.toString), true)
    // Evict older corpus generations: siblings whose name is `prefix`
    // plus a bare (possibly multi-source) length-mtime fingerprint.
    Option(root.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix) && f.getName != root.getName &&
        f.getName.stripPrefix(prefix).matches("\\d+-\\d+(_\\d+-\\d+)*"))
      .foreach(del)
    // Build into a UNIQUE directory: no other builder can be writing
    // here. The marker travels inside the dir — it is what bench
    // cold-build detection walks for.
    val dirName = s"$name-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = new java.io.File(root, dirName)
    dir.mkdirs()
    buildAt(dir)
    new java.io.File(dir, Done).createNewFile()
    // COMMIT: claim the pointer through the active primitive (hard
    // link locally, Hadoop rename-without-overwrite on a lake FS).
    val tmpPtr = new java.io.File(root, s".ptr-$dirName")
    java.nio.file.Files.write(tmpPtr.toPath,
      dirName.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try {
      CommitPrimitive.active.claim(tmpPtr, ptrFile(root, name))
      dir.toString
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        // lost the cross-process race: another builder's pointer landed
        // first — discard our build, serve the winner's directory
        tmpPtr.delete()
        del(dir)
        resolve(root, name).getOrElse(throw new IllegalStateException(
          s"artifact pointer claimed but unreadable: ${ptrFile(root, name)}"))
    }
  }
}
