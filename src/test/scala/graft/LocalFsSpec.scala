package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus,
  FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}

/** The fork-free `file:` filesystem (graft.fs) must answer exactly as
  * stock Hadoop does: same statuses, same exceptions, same permission
  * bits on disk, same checkpoint-commit rename. Each case runs the stock
  * class and ours side by side on the same kind of input. */
class LocalFsSpec extends AnyFunSuite {

  private def rawFs(fs: RawLocalFileSystem, conf: Configuration): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }
  private def bothRaw(conf: Configuration = new Configuration()) =
    Seq("stock" -> rawFs(new RawLocalFileSystem, conf),
      "graft" -> rawFs(new ForkFreeRawLocalFileSystem, conf))

  /** The full mode as the kernel holds it, sticky bit included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Everything a caller can read off a status (FileStatus.equals
    * compares the path only). */
  private def view(st: FileStatus) =
    (st.getPath.toString, st.isFile, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink.toString else "", st.getLen,
      st.getModificationTime, st.getPermission, st.getOwner, st.getGroup)

  private def outcome(st: => FileStatus): Either[Class[_], Any] =
    try Right(view(st)) catch { case e: IOException => Left(e.getClass) }

  test("the engine classpath binds file: to graft.fs") {
    val conf = new Configuration()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass.getName)
    assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    val afs = FileContext.getLocalFSFileContext.getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass.getName)
  }

  test("getFileStatus and getFileLinkStatus match stock on every path kind") {
    val dir = Files.createTempDirectory("lfs-status")
    val file = Files.write(dir.resolve("file"), "abc".getBytes(UTF_8))
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val kinds = Seq("file" -> file, "dir" -> sub, "missing" -> dir.resolve("missing"),
      "symlink" -> link, "dangling" -> dangling)
    val Seq((_, stock), (_, ours)) = bothRaw()
    for ((kind, p) <- kinds;
         // a bare path and a file: URI take different branches in the stock code
         path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val statusOf: Seq[(String, RawLocalFileSystem => FileStatus)] = Seq(
        "getFileStatus" -> (_.getFileStatus(path)),
        "getFileLinkStatus" -> (_.getFileLinkStatus(path)))
      for ((call, f) <- statusOf)
        assert(outcome(f(ours)) == outcome(f(stock)), s"$call on $kind $path")
    }
    val missing = new Path(dir.resolve("missing").toString)
    assert(outcome(ours.getFileLinkStatus(missing)) == Left(classOf[FileNotFoundException]))
    // the symlink case is a real symlink status, not a followed target
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
  }

  test("create and mkdirs leave the same permission bits as stock under the umask") {
    for (umask <- Seq("022", "077", "002")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val u = Integer.parseInt(umask, 8)
      val modes = bothRaw(conf).map { case (name, fs) =>
        val dir = Files.createTempDirectory(s"lfs-perm-$name")
        fs.create(new Path(dir.resolve("f").toString)).close()
        assert(fs.mkdirs(new Path(dir.resolve("a/b").toString)))
        Seq("f", "a", "a/b").map(r => mode(dir.resolve(r)))
      }
      assert(modes.head == modes(1), s"umask $umask")
      assert(modes.head == Seq(0x1b6 & ~u, 0x1ff & ~u, 0x1ff & ~u), s"umask $umask")
    }
  }

  test("setPermission sets the same bits as stock, with and without the sticky bit") {
    for ((name, fs) <- bothRaw()) {
      val dir = Files.createTempDirectory(s"lfs-chmod-$name")
      val file = Files.createFile(dir.resolve("f"))
      val sub = Files.createDirectory(dir.resolve("d"))
      for ((p, perm) <- Seq(file -> 0x1a0, file -> 0x1ed, file -> 0, // 0640 0755 0000
           sub -> 0x3ff, sub -> 0x3e8, sub -> 0x1c0)) {              // 1777 1750 0700
        fs.setPermission(new Path(p.toUri), new FsPermission(perm.toShort))
        assert(mode(p) == perm, f"$name $p ${perm}%o")
      }
      intercept[IOException] {
        fs.setPermission(new Path(dir.resolve("missing").toString), new FsPermission(0x1a4.toShort))
      }
    }
  }

  test("FileSystem rename answers as the previous file: binding (Hive's ProxyLocalFileSystem)") {
    val results = Seq[FileSystem](new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem,
        new ForkFreeLocalFileSystem).map { fs =>
      fs.initialize(URI.create("file:///"), new Configuration())
      val dir = Files.createTempDirectory("lfs-fsrename")
      def write(n: String): Path = {
        val p = new Path(dir.resolve(n).toUri)
        val out = fs.create(p)
        try out.write(n.getBytes(UTF_8)) finally out.close()
        p
      }
      val onFile = fs.rename(write("a"), write("b"))
      val onMissing = fs.rename(write("c"), new Path(dir.resolve("d").toUri))
      fs.mkdirs(new Path(dir.resolve("sub").toUri))
      val intoDir = fs.rename(write("e"), new Path(dir.resolve("sub").toUri))
      val names = Files.walk(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => dir.relativize(p).toString).sorted.toSeq
      (onFile, onMissing, intoDir, names)
    }
    assert(results.head == results(1))
    assert(results.head._1 == false, "rename must not replace an existing file")
  }

  test("FileContext rename with OVERWRITE (the checkpoint commit) matches stock LocalFs") {
    val stockConf = new Configuration()
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val results = Seq("stock" -> stockConf, "graft" -> new Configuration()).map {
      case (name, conf) =>
        val fc = FileContext.getLocalFSFileContext(conf)
        assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs] == (name == "graft"))
        val dir = Files.createTempDirectory(s"lfs-rename-$name")
        def write(n: String, body: String): Path = {
          val p = new Path(dir.resolve(n).toUri)
          val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE),
            Options.CreateOpts.createParent())
          try out.write(body.getBytes(UTF_8)) finally out.close()
          p
        }
        val dst = write("1.delta", "old")
        val tmp = write(".1.delta.tmp", "new")
        fc.rename(tmp, dst, Options.Rename.OVERWRITE)
        val again = write(".1.delta.tmp", "newer")
        intercept[FileAlreadyExistsException](fc.rename(again, dst, Options.Rename.NONE))
        val in = fc.open(dst)
        val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
        val listing = Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
          .map(p => p.getFileName.toString -> mode(p)).sorted.toSeq
        (body, listing)
    }
    assert(results.head == results(1))
    assert(results.head._1 == "new")
    assert(results.head._2.map(_._1) ==
      Seq("..1.delta.tmp.crc", ".1.delta.crc", ".1.delta.tmp", "1.delta"))
  }
}
