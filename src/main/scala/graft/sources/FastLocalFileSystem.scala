package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` filesystem with the client-side checksum layer OFF.
  *
  * Hadoop's default LocalFileSystem writes a `.crc` sidecar for every
  * file and re-reads it (verifying) on every open — pure overhead for a
  * local engine whose durability story is the SnapshotStore manifest
  * (and, on a cluster, the remote store's own integrity machinery).
  * Binding `fs.file.impl` straight to RawLocalFileSystem is NOT viable:
  * `FileSystem.getLocal` hard-casts the `file://` instance to
  * `LocalFileSystem` (RocksDB state-store checkpoints call it via
  * `copyFromLocalFile`), so the impl must BE a LocalFileSystem. This
  * subclass is one: same rename/delete/list semantics, checksum write
  * and verify disabled at initialize, over a [[NioPermissionsFileSystem]].
  *
  * Wired in build.sbt (`-Dspark.hadoop.fs.file.impl=...`) so every
  * forked entry point (Bench, Verify, tests) sees it before the
  * process-wide FileSystem cache first resolves `file://`. That covers
  * the `FileSystem` API only. Structured Streaming checkpoints reach it
  * through [[graft.Tuning]]'s checkpoint-manager setting; without that
  * setting they go through `FileContext`, which resolves `file://` to
  * Hadoop's own checksummed `LocalFs`, never to this class.
  */
class FastLocalFileSystem extends LocalFileSystem(new NioPermissionsFileSystem) {
  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }
}

/** RawLocalFileSystem whose `setPermission` sets the bits in-process.
  *
  * Without the native Hadoop library the stock call forks `chmod` once
  * per dir and file a write creates (a parquet write creates about a
  * dozen: task attempt dirs, part files, `_SUCCESS`), at a few ms per
  * fork. `Files.setPosixFilePermissions` sets the same rwx bits with
  * one syscall. A permission carrying a sticky, setuid or setgid bit
  * has no `PosixFilePermission` spelling, so it keeps the stock call.
  */
class NioPermissionsFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioPermissionsFileSystem.posix(mode))
  }
}

object NioPermissionsFileSystem {
  // owner, group, other rwx, high bit first: bit 8 - i
  private val bits = Array(
    PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_EXECUTE)

  /** The permission set of the low nine bits of `mode`. */
  def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.indices.foreach(i => if ((mode & (1 << (8 - i))) != 0) s.add(bits(i)))
    s
  }
}
