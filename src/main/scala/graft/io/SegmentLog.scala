package graft.io

import java.nio.file.{AtomicMoveNotSupportedException, Files, LinkOption,
  Path, Paths, StandardCopyOption}

/** Crash-safe commit protocol for INDEX artifacts (DedupIndex,
  * ClusterIndex) — the [[JsonTableIO]] manifest-pointer discipline
  * generalized to a segment log:
  *
  *  - the index root holds immutable SEGMENT dirs (`seg-<n>`, one per
  *    build/append batch), optional versioned EXTRA artifacts
  *    (`<name>-g<n>`: a rewritten clusters table, a pending-doc set),
  *    and ONE `manifest.json` naming exactly which of them are live;
  *  - writers stage new segments/extras under fresh names (never
  *    touching anything referenced), then COMMIT by atomically replacing
  *    the manifest — one rename locally, one small PUT on an object
  *    store. A crash at ANY earlier point leaves readers on the previous
  *    state; a crash after leaves orphan dirs for the next maintenance
  *    pass (only UNREFERENCED names are ever cleaned, so cleanup cannot
  *    race readers);
  *  - a multi-part update (ClusterIndex.append rewrites the assignments
  *    AND adds a band segment) is ONE commit: readers never observe the
  *    halves separately.
  *
  * Read resolution validates every name against a closed shape
  * (`seg-<n>` / `<word>-g<n>`) so a tampered or hand-edited pointer
  * fails loudly instead of resolving an arbitrary path — the same
  * posture as JsonTableIO's `DataDirName` guard.
  *
  * SINGLE-WRITER CONTRACT (like Delta on S3 without a lock provider):
  * readers are always safe concurrently with one writer, but two
  * concurrent WRITERS on one root can clobber each other — writer B's
  * post-commit [[cleanup]] would sweep writer A's staged-but-uncommitted
  * segment (unreferenced by the manifest B sees), and last-commit-wins
  * on the manifest itself. Maintenance of one index root must be
  * serialized by the deployment (the streaming ingest pipeline gets
  * this for free: Structured Streaming runs foreachBatch serially).
  */
object SegmentLog {

  final case class State(gen: Long, segments: Seq[String],
      extras: Map[String, String]) {
    def segmentPaths(dir: String): Seq[String] = segments.map(s => s"$dir/$s")
    def extraPath(dir: String, name: String): String = s"$dir/${extras(name)}"
  }

  private val SegName = raw"seg-\d+".r
  private val ExtraVal = raw"[A-Za-z0-9_.]+-g\d+".r
  private val ExtraKey = raw"[A-Za-z0-9_.]+".r

  private def manifestPath(dir: String) = Paths.get(s"$dir/manifest.json")

  /** The committed state, or None for a never-committed root. */
  def read(dir: String): Option[State] = {
    val mp = manifestPath(dir)
    if (!Files.isRegularFile(mp)) None
    else {
      val txt = Files.readString(mp)
      val gen = raw""""gen"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong)
        .getOrElse(sys.error(s"segment-log manifest $mp has no gen"))
      val segs = raw""""segments"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse("")
      val segments = raw""""([^"]*)"""".r.findAllMatchIn(segs)
        .map(_.group(1)).toSeq
      val extrasBody = raw""""extras"\s*:\s*\{([^}]*)\}""".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      val extras = raw""""([^"]*)"\s*:\s*"([^"]*)"""".r
        .findAllMatchIn(extrasBody).map(m => m.group(1) -> m.group(2)).toMap
      // closed-shape validation: a pointer is a NAME inside the root,
      // never a path
      segments.foreach(s => require(SegName.matches(s),
        s"segment-log manifest $mp has invalid segment pointer '$s'"))
      extras.foreach { case (k, v) =>
        require(ExtraKey.matches(k) && ExtraVal.matches(v),
          s"segment-log manifest $mp has invalid extra pointer '$k' -> '$v'")
      }
      Some(State(gen, segments, extras))
    }
  }

  /** Stage-name helpers: fresh names derived from the NEXT generation,
    * guaranteed unreferenced by the current manifest.
    */
  def nextGen(st: Option[State]): Long = st.map(_.gen + 1).getOrElse(1L)
  def segName(gen: Long): String = s"seg-$gen"
  def extraName(base: String, gen: Long): String = s"$base-g$gen"

  /** THE commit: write-to-temp + single atomic rename of the manifest.
    * Everything staged before this call becomes visible together;
    * nothing does on a crash before it.
    */
  def commit(dir: String, state: State): Unit = {
    state.segments.foreach(s => require(SegName.matches(s),
      s"refusing to commit invalid segment name '$s'"))
    state.extras.foreach { case (k, v) =>
      require(ExtraKey.matches(k) && ExtraVal.matches(v),
        s"refusing to commit invalid extra '$k' -> '$v'")
    }
    val segsJson = state.segments.map(s => s""""$s"""").mkString("[", ", ", "]")
    val extrasJson = state.extras.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
    replaceAtomically(manifestPath(dir),
      s"""{"gen": ${state.gen}, "segments": $segsJson, "extras": $extrasJson}""")
  }

  /** Atomic file replace — write-to-temp + one rename — shared by every
    * commit in this package: this manifest, [[JsonTableIO]]'s manifest
    * pointer and its single-file envelope. A crash leaves the old file
    * or the new one, never a truncated one (at worst a stray temp
    * file). Filesystems without atomic rename fall back to a plain
    * replace.
    */
  private[io] def replaceAtomically(target: Path, text: String): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.writeString(tmp, text)
    try Files.move(tmp, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: AtomicMoveNotSupportedException =>
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Delete every staged-looking dir/file the manifest does NOT
    * reference — crash leftovers and superseded generations. Safe to run
    * any time: referenced names are never touched, so a concurrent
    * reader resolved through the manifest cannot lose its data.
    */
  def cleanup(dir: String): Unit = read(dir).foreach { st =>
    val live: Set[String] = st.segments.toSet ++ st.extras.values
    val d = Paths.get(dir)
    if (Files.isDirectory(d)) {
      val s = Files.list(d)
      val stale =
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toList.filter { p =>
            val n = p.getFileName.toString
            (SegName.matches(n) || ExtraVal.matches(n)) && !live.contains(n)
          }
        } finally s.close()
      stale.foreach(p => deleteRecursively(p.toString))
    }
  }

  /** Recursive delete (no-op when absent), children first; symlinks
    * are removed, never followed. The one delete behind [[cleanup]],
    * [[JsonTableIO]]'s generation sweep and rollback, and the throwaway
    * trees (temp index dirs) the replay queries build and discard.
    */
  def deleteRecursively(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally w.close()
    }
  }

  /** Recursive file-copy of an artifact tree. Segment-log pointers are
    * root-relative, so a copied tree is a valid index — this is how a
    * per-run mutation (append/ingest) works on a private copy of a
    * staged pristine index. Safe onto an existing (empty) dst root.
    */
  def copyRecursively(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    val d = Paths.get(dst)
    val w = Files.walk(s)
    try w.forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally w.close()
  }
}
