package graft.io

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without subprocesses. Without `libhadoop`, stock
  * `RawLocalFileSystem` forks `chmod` for every file, checksum and
  * directory it creates and `readlink` for every `getFileLinkStatus` (each
  * `FileContext` rename asks for it): milliseconds per fork, several per
  * parquet append and hundreds per stateful streaming query. Here both
  * calls run in-process with the same answers: the same mode bits and the
  * same `FileStatus`. Registered for `FileSystem` and `FileContext` in
  * `core-site.xml`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode bits stock Hadoop passes to `chmod`, on the same canonical
    * path; only the sticky bit, which NIO cannot set, still forks.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & 0x200) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's order is owner rwx, group rwx, others rwx
      for ((perm, i) <- PosixFilePermission.values().zipWithIndex
           if (mode & (0x100 >> i)) != 0) perms.add(perm)
      Files.setPosixFilePermissions(
        Paths.get(pathToFile(p).getCanonicalPath), perms)
    }
  }

  /** Stock Hadoop's answer, with `FileUtil.readLink(new File(f.toString))`
    * read in-process: a `file:`-qualified path names no file, so its
    * target is "" there and here.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    val target =
      try if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link)
        .toString.trim else ""
      catch { case _: IOException => "" }
    val fi =
      try {
        val st = getFileStatus(f)
        if (target.isEmpty) st
        else new FileStatus(st.getLen, false, st.getReplication,
          st.getBlockSize, st.getModificationTime, st.getAccessTime,
          st.getPermission, st.getOwner, st.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "",
            "", new Path(target), f)
      }
    if (fi.isSymlink) fi.setSymlink(
      FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }
}

/** `fs.file.impl`: the checksummed local `FileSystem` over the fork-free raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: `FileContext`'s checksummed local
  * filesystem (stock `LocalFs`) over the fork-free raw one, with stock
  * `RawLocalFs`'s overrides.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file",
        false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults: FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
