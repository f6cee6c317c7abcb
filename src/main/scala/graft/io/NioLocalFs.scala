package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local FileSystem with its two per-file process launches done in
  * `java.nio`. Without libhadoop, [[RawLocalFileSystem]] runs `chmod` on
  * every permission set (each file create and mkdir) and `readlink` on
  * every link-status probe (two per FileContext rename). */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission) // java.nio cannot set it
    else {
      // PosixFilePermission lists owner r/w/x, group r/w/x, others r/w/x: bit 0400 >> ordinal
      val bits = permission.toShort
      val perms = PosixFilePermission.values.filter(v => (bits & (256 >> v.ordinal)) != 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, java.util.Set.of(perms: _*))
    }

  // RawLocalFileSystem runs `readlink` on the path's string form, which for
  // a qualified `file:` path names no file; this probes that same string
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]] (its constructors
  * are package-private, so its overrides are repeated here). */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (same files, same `.crc` checksum files) over
  * [[NioRawLocalFs]]: the local FileContext of the streaming pipelines'
  * checkpoints, scoped in `StreamingPipelines.runStream`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
