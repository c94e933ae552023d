package graft.store

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's raw local file system, setting permission bits through
  * `java.nio` instead of a forked `chmod` (what
  * `RawLocalFileSystem.setPermission` runs for every file it creates
  * when Hadoop's native library is absent, 3-4 ms a fork). The bits are
  * the ones Hadoop would set. It writes no checksum files, as the log
  * and the catalog write none. Used only through the Hadoop
  * configuration of [[Storage]]'s driver write; the session's file
  * system is left alone.
  */
final class NioLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    import PosixFilePermission._
    def bits(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
        x: PosixFilePermission): Seq[PosixFilePermission] =
      Seq(FsAction.READ -> r, FsAction.WRITE -> w, FsAction.EXECUTE -> x)
        .collect { case (need, bit) if a.implies(need) => bit }
    val set = new java.util.HashSet[PosixFilePermission]()
    (bits(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE) ++
      bits(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE) ++
      bits(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE))
      .foreach(set.add)
    Files.setPosixFilePermissions(pathToFile(p).toPath, set)
    ()
  }
}
