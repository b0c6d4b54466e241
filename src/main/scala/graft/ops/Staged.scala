package graft.ops

import org.apache.spark.sql.SparkSession

/** The one cache rule for every derived INPUT layout the engine stages
  * under `java.io.tmpdir` (partitioned/bucketed/clustered copies, index
  * segments, format round-trip copies, replay staging): a layout is a
  * pure function of its source files and of the code that builds it,
  * so it is built once, published atomically, and served to every later
  * call until either of those changes. Query RESULTS are never staged —
  * only inputs (the r14 VERDICT ruling).
  *
  *  - Root: `${java.io.tmpdir}/graft_<name>_<key>` ([[root]]).
  *  - Key: md5 over `name`, `version` and the [[sourceKey]] signature of
  *    `sources`. `version` is the revision of the layout's BUILD CODE:
  *    bump it whenever that code changes what it writes, and the old
  *    root is never read again. A layout built from another staged
  *    layout lists that layout's root among its `sources`, so bumping
  *    the upstream version (which moves the upstream root) rebuilds the
  *    downstream layout too.
  *  - Completeness: every `parts` entry (a path under the root, `""` =
  *    the root itself) holds a `_SUCCESS` marker — or, for a part that
  *    names a FILE (the version file a commit-log layout writes last),
  *    that file exists.
  *  - Publish: [[buildAtomically]] — a reader sees a complete layout or
  *    none, never a half-written one.
  *
  * `build` receives a private temp dir and must write the whole layout
  * under it, including every marker `parts` names. Anything it records
  * about file locations must be root-RELATIVE: the temp dir is renamed
  * into place, so an absolute path into it goes stale at publish.
  */
object Staged {

  def apply(s: SparkSession, name: String, version: Int, sources: Seq[String],
      parts: Seq[String] = Seq(""))(build: String => Unit): String = {
    val out = root(name, version, sources)
    def complete() = parts.forall { p =>
      val dir = new org.apache.hadoop.fs.Path(if (p.isEmpty) out else s"$out/$p")
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")) ||
        (fs.exists(dir) && fs.getFileStatus(dir).isFile)
    }
    if (!complete()) buildAtomically(s, out, () => complete())(build)
    out
  }

  /** The cache identity of a layout: `graft_<name>_<key>`. A root's
    * basename, the name of the one staged layout that lives in the
    * catalog instead of a directory (Partitioned's bucketed tables), and
    * the input key `Ingest.quarantineIngest` publishes with its outDir.
    */
  private[graft] def id(name: String, version: Int, sources: Seq[String]): String =
    s"graft_${name}_${key(name, version, sources)}"

  /** Where a layout lives, without building it. */
  private[graft] def root(name: String, version: Int, sources: Seq[String]): String =
    s"${System.getProperty("java.io.tmpdir")}/${id(name, version, sources)}"

  private def key(name: String, version: Int, sources: Seq[String]): String =
    md5(s"$name:v$version:${sourceKey(sources)}")

  /** Signature of the source files: each PATH plus the file's size and
    * mtime — regenerated testdata at the same path gets a fresh key, so
    * a stale layout from a previous corpus can never serve (it would
    * silently diverge from the oracle, which always reads the live
    * file). Full md5, not a 32-bit hash: at 2³² a birthday collision
    * between two corpora is a real hazard for a shared tmpdir, and a
    * collision here silently serves the WRONG index.
    */
  private def sourceKey(paths: Seq[String]): String =
    md5(paths.map { p =>
      val f = java.nio.file.Paths.get(p)
      val (sz, mt) =
        if (java.nio.file.Files.exists(f))
          (java.nio.file.Files.size(f), java.nio.file.Files.getLastModifiedTime(f).toMillis)
        else (0L, 0L)
      s"$p:$sz:$mt"
    }.mkString("|"))

  private def md5(sig: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Multi-file layout builds are NOT atomic by default: a concurrent
    * builder of the same key (or a crash between part writes) could
    * leave a partially-overwritten layout whose parts disagree. This
    * helper gives the standard fix — build every part under a private
    * temp dir, then RENAME the whole dir into place (one FS metadata op
    * on a local/HDFS filesystem); a racer that finds the target already
    * renamed discards its own build. Readers therefore only ever see a
    * complete layout or none.
    *
    * `complete` is the caller's layout-completeness predicate (defaults
    * to a top-level `_SUCCESS` probe). A pre-existing target is deleted
    * ONLY while it is known-incomplete (a crashed earlier build) — a
    * PUBLISHED layout is never deleted, so a concurrent reader of the
    * live path cannot hit missing files mid-swap.
    *
    * Race handling is Hadoop-rename-aware: `fs.rename(tmp, out)` onto
    * an EXISTING directory does not refuse — HDFS (and the local FS's
    * copy fallback) moves tmp INTO the target as a child and returns
    * true, which would silently nest a loser's full duplicate build
    * inside the published layout (duplicate rows on recursive
    * listings). So a racer (1) re-checks completeness immediately
    * before renaming and discards its tmp if a winner is already in
    * place, and (2) after a "successful" rename verifies that
    * `out/<tmp-basename>` does NOT exist — if it does, the rename was
    * actually a nest-into-winner, so the nested copy is deleted and
    * the race treated as lost. A rename failure with a complete winner
    * in place is likewise a lost race (discard tmp); a rename failure
    * with NO winner throws instead of silently returning a path that
    * doesn't exist.
    */
  private[graft] def buildAtomically(s: SparkSession, out: String,
      complete: () => Boolean = null)(
      build: String => Unit): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val outPath = new org.apache.hadoop.fs.Path(out)
    val fs = outPath.getFileSystem(conf)
    val isComplete: () => Boolean =
      if (complete != null) complete else () => successExists(s, out)
    val tmp = new org.apache.hadoop.fs.Path(
      out + ".build-" + java.util.UUID.randomUUID().toString)
    // a build that throws leaves nothing behind: no target, no temp dir
    try build(tmp.toString)
    catch { case t: Throwable => fs.delete(tmp, true); throw t }
    if (fs.exists(outPath) && !isComplete()) fs.delete(outPath, true)
    // lost-race fast path: a complete winner published while we built
    if (isComplete()) { fs.delete(tmp, true); return }
    if (!fs.rename(tmp, outPath)) {
      fs.delete(tmp, true)
      if (!isComplete())
        throw new java.io.IOException(
          s"atomic publish of $out failed: rename refused and no complete layout occupies the target")
    } else {
      // rename returned true — but if a winner appeared between the
      // completeness check and the rename, Hadoop moved tmp INTO it as
      // a child rather than refusing. Detect and discard the nested
      // duplicate; the winner's layout stays published.
      val nested = new org.apache.hadoop.fs.Path(outPath, tmp.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
      if (!isComplete())
        throw new java.io.IOException(
          s"atomic publish of $out failed: rename landed but the layout is incomplete")
    }
  }

  /** Layout-completeness probe through the HADOOP FileSystem, not
    * java.io — on any non-local deployment (the object-store layouts
    * these queries model) a `java.io.File` check always misses,
    * silently rewriting the layout on every invocation. Same FS
    * resolution as the writes/listings it guards.
    */
  private[graft] def successExists(s: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }
}
