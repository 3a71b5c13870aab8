package graft.sources

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** How a stored layout is committed — the one place that knows it.
  * Every stored index, sketch, pair relation and sidecar in the engine
  * is written through one of two shapes:
  *
  *  - IN PLACE, [[replace]]: the writer fills `<target>_staging`, then
  *    two renames swap it in (`<target>` → `<target>_old`, staging →
  *    `<target>`) and `_old` is dropped. A crash before the swap leaves
  *    the old layout intact; a crash between the renames leaves the
  *    only good copy under `_old`, and the next [[replace]] of the same
  *    target renames it back before anything reads or deletes it. A
  *    reader concurrent with the swap can still see the target missing
  *    for the instant between the renames.
  *  - VERSIONED, [[resolve]] / [[cut]]: the layout lives in immutable
  *    `<root>/v_<12 hex>` dirs and `<root>/_graft_current` names the
  *    live one. A probe resolves the pointer ONCE and reads that
  *    version for its whole lifetime (snapshot isolation); a cut
  *    builds a new version and flips the pointer with one atomic
  *    rename, so a racing reader never sees a missing or half-written
  *    layout. Outgoing versions retire [[KeepRetired]] cutovers later,
  *    so a reader that resolved just before a cutover finishes its scan
  *    against intact files. A reader slower than three consecutive
  *    cutovers is the stated residual, as with every MVCC store's
  *    vacuum horizon.
  *
  * SINGLE WRITER per target or root, in both shapes. The versioned root
  * makes readers atomic against a writer, not writers against each
  * other: a tombstone appended to the live version while a versioned
  * compaction runs can be lost, because the compaction folds the version
  * it resolved and cuts over to a new one that never sees the later
  * append. Turning that lost append into a conflict error (a
  * compare-and-swap on the pointer) is still open.
  */
object StoredRoot {

  /** Write `target` whole through a staging sibling and swap it in.
    * `write` receives the staging path, which is empty when it runs;
    * every read of the stored state belongs inside `write`, after the
    * crash recovery below has put a stranded `_old` back.
    */
  def replace(s: SparkSession, target: String)(write: String => Unit): Unit = {
    val t = new Path(target)
    val fs = t.getFileSystem(s.sparkContext.hadoopConfiguration)
    val old = new Path(target + "_old")
    val staging = new Path(target + "_staging")
    // a crash between the two renames left the only good copy as `_old`
    if (!fs.exists(t) && fs.exists(old))
      require(fs.rename(old, t), s"swap: could not restore $old")
    fs.delete(old, true)
    fs.delete(staging, true)
    write(staging.toString)
    if (fs.exists(t))
      require(fs.rename(t, old), s"swap: could not retire $target")
    require(fs.rename(staging, t), s"swap: could not promote $staging")
    fs.delete(old, true)
  }

  /** The live version dir of a versioned root — read once per probe or
    * maintenance entry, never per file.
    */
  def resolve(s: SparkSession, root: String): String = {
    val p = currentPointer(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val name =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
      finally in.close()
    s"$root/$name"
  }

  /** Build a fresh version of `root` with `build` (given the new
    * version dir, which does not exist yet), point the root at it and
    * retire old versions. Returns the new live version dir.
    */
  def cut(s: SparkSession, root: String)(build: String => Unit): String = {
    val name =
      s"v_${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"
    val dir = s"$root/$name"
    build(dir)
    cutVersion(s, root, name)
    dir
  }

  /** Retired generations kept on disk behind the live version. */
  private val KeepRetired = 2

  /** The names [[cut]] makes, and the staging dirs a builder such as
    * `Lexical.writeLexIndex` stages them under.
    */
  private val VersionName = "v_[0-9a-f]{12}".r
  private val StagingName = "v_[0-9a-f]{12}_staging".r

  private def currentPointer(root: String): Path = new Path(root, "_graft_current")

  /** Atomically repoint `<root>/_graft_current` at `version`, then
    * retire every version dir beyond the live one and the
    * [[KeepRetired]] most recent retired generations. The pointer lands
    * via write-temp + atomic rename-overwrite, so a concurrent resolve
    * sees either the old or the new name, never a torn file.
    */
  private def cutVersion(s: SparkSession, root: String, version: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val ptr = currentPointer(root)
    val fs = ptr.getFileSystem(conf)
    if (fs.isInstanceOf[LocalFileSystem] || fs.isInstanceOf[RawLocalFileSystem]) {
      // On the local CHECKSUMMED fs the crc sidecar turns the pointer
      // flip into TWO renames (data file, then `.crc`) — a reader
      // between them fails with ChecksumException (caught once by
      // LshVersionedSpec's cutover race). The pointer is a ~12-byte
      // version name: write it RAW (no sidecar — absent crc files are
      // not verified on read) and flip with one ATOMIC_MOVE; retire
      // any sidecar a pre-fix checksummed writer left so readers never
      // verify the new pointer against a stale crc. One-time
      // transitional race, accepted (r18 advice): a reader that opened
      // a stale PRE-FIX .crc before the deleteIfExists below and reads
      // the pointer after the move can still hit one ChecksumException
      // at the upgrade boundary — benign afterward, since no new crc
      // is ever written for the pointer.
      val rootP = java.nio.file.Paths.get(new Path(root).toUri.getPath)
      java.nio.file.Files.createDirectories(rootP)
      val tmpP = rootP.resolve(
        s"_graft_current_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      java.nio.file.Files.write(tmpP, version.getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(rootP.resolve("." + ptr.getName + ".crc"))
      java.nio.file.Files.move(tmpP, rootP.resolve(ptr.getName),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val tmp = new Path(root,
        s"_graft_current_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(version.getBytes("UTF-8")) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
        .rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    // retired versions are immutable, so recency by modification time
    // orders generations; the live version is kept unconditionally.
    // Only a full version name counts: a builder's `v_…_staging` dir
    // takes no keep slot. A staging dir older than every kept version
    // is a crashed builder's leftover (one writer at a time, so no
    // build is staging while this cutover runs) and goes with the
    // retired versions.
    val dirs = fs.listStatus(new Path(root)).filter(_.isDirectory)
    val vers = dirs.filter(st => VersionName.matches(st.getPath.getName))
    val keep = vers.sortBy(-_.getModificationTime)
      .take(KeepRetired + 1).map(_.getPath.getName).toSet + version
    val (kept, retired) = vers.partition(st => keep.contains(st.getPath.getName))
    val horizon = kept.map(_.getModificationTime).minOption
    val leftovers = dirs.filter(st => StagingName.matches(st.getPath.getName) &&
      horizon.exists(st.getModificationTime < _))
    (retired ++ leftovers).foreach(st => fs.delete(st.getPath, true))
  }
}
