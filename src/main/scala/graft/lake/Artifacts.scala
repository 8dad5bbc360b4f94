package graft.lake

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils

/** Trained-artifact lifecycle for model-sized byproducts of corpus
  * passes — BPE tokenizers, LM count tables, IVF indexes. The pattern
  * the persisted IVF index established (build once as a lake artifact,
  * every later query is a read) generalized: `ensure` is an
  * idempotent build-if-stale gate keyed by a caller-supplied
  * fingerprint (training params + corpus identity), so N queries in a
  * session/bench share ONE training pass instead of retraining per
  * query, and a stale artifact from older data can never be silently
  * reused.
  *
  * 100 TB shape: the manifest check is two driver-side file reads; a
  * hit costs nothing, a miss costs exactly the training the caller
  * would have paid anyway. Artifacts themselves are model-sized
  * (vocabulary/count tables), never corpus-sized.
  */
object Artifacts {

  /** Per-dataset scratch root (same convention as the qe12 IVF index
    * fixture): artifacts for one source dir live together and never
    * collide across scale factors.
    */
  def workRoot(sfDir: String): String =
    sys.props("java.io.tmpdir") + "/graft_work/" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_")

  private def manifest(path: String) = new File(path, "_manifest.json")

  /** True iff the artifact at `path` exists and was built with exactly
    * this fingerprint.
    */
  def isFresh(path: String, fingerprint: String): Boolean = {
    val mf = manifest(path)
    mf.isFile && new String(
      Files.readAllBytes(mf.toPath), StandardCharsets.UTF_8) == fingerprint
  }

  /** Build-if-stale: when the stored manifest does not match
    * `fingerprint`, wipe the artifact dir, run `build`, then commit the
    * manifest LAST (a crashed build leaves no manifest → next ensure
    * rebuilds; never a half-written artifact with a valid manifest).
    *
    * @return true if the artifact was (re)built, false on a fresh hit
    */
  def ensure(path: String, fingerprint: String)(build: => Unit): Boolean = {
    if (isFresh(path, fingerprint)) false
    else {
      FileUtils.deleteDirectory(new File(path))
      Files.createDirectories(Paths.get(path))
      build
      Files.write(manifest(path).toPath,
        fingerprint.getBytes(StandardCharsets.UTF_8))
      true
    }
  }

  /** Metadata fingerprint of a source file/dir (sizes + mtimes, no
    * data pass): regenerated source data invalidates dependent
    * artifacts even when row counts happen to match.
    */
  def sourceFingerprint(path: String): String = {
    def walk(f: File): Seq[String] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
      else if (f.isFile) Seq(s"${f.getName}:${f.length}:${f.lastModified}")
      else Seq.empty
    walk(new File(path)).mkString(";")
  }
}
