package graft.core

import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` without process forks.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem.setPermission` forks
  * a `chmod` for every file it creates (two per checksummed file: the
  * data and its `.crc`), and `getFileLinkStatus` forks a `readlink`. A
  * streaming checkpoint commit creates and renames two small files per
  * trigger, so those forks were most of walCommit and commitOffsets.
  *
  * `src/main/resources/core-site.xml` registers `fs.file.impl` =
  * [[NoForkLocalFileSystem]] and sets
  * `spark.sql.streaming.checkpointFileManagerClass` to Spark's
  * `FileSystemBasedCheckpointFileManager`. Spark's default manager goes
  * through `FileContext`, which reaches Hadoop's `RawLocalFs`: that class
  * builds its own `RawLocalFileSystem` (not `fs.file.impl`) and forks
  * `readlink` four times per rename. The FileSystem API reaches
  * `fs.file.impl` instead, whose rename of the temp file is one
  * `File.renameTo` of the data and one of its `.crc`. A session conf set
  * to another manager still wins, since Spark copies SQL confs over the
  * Hadoop conf.
  */
final class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through `java.nio`. A sticky bit, which NIO cannot set,
    * keeps Hadoop's own path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort.toInt
      // PosixFilePermission runs OWNER_READ (0400) .. OTHERS_EXECUTE (0001)
      val perms = new java.util.HashSet[PosixFilePermission]()
      PosixFilePermission.values.foreach(x => if ((bits & (0x100 >> x.ordinal)) != 0) perms.add(x))
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: NoSuchFileException => throw new java.io.FileNotFoundException(s"File $p does not exist")
      }
    }
}

/** Hadoop's checksummed `LocalFileSystem` (`.crc` sidecars written and
  * verified) over [[NoForkRawLocalFileSystem]].
  */
final class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)
