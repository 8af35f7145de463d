package graft.io

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.security.PrivilegedExceptionAction
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.scalatest.funsuite.AnyFunSuite

/** [[ForkFreeLocalFs]] and [[ForkFreeLocalFileSystem]] against Hadoop's own
  * local filesystems: every case runs the same calls on stock
  * `RawLocalFileSystem` / `LocalFs` / `LocalFileSystem` and on the fork-free
  * ones under one conf (one umask), and compares what lands on disk and
  * what the API answers.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite {

  private val StockFs = "org.apache.hadoop.fs.local.LocalFs"
  private val conf = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "027")
    c
  }

  private def fileContext(impl: String): FileContext = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getFileContext(new URI("file:///"), c)
  }
  private def stockFc = fileContext(StockFs)
  private def forkFreeFc = fileContext(classOf[ForkFreeLocalFs].getName)

  /** A FileSystem-API `file:` instance of `impl`, outside the JVM's cache. */
  private def fileSystem(impl: String): FileSystem = {
    val c = new Configuration(conf)
    c.set("fs.file.impl", impl)
    FileSystem.newInstance(new URI("file:///"), c)
  }

  /** `body` on a stock `LocalFileSystem` and on the fork-free one, each in
    * its own fresh directory.
    */
  private def onBoth(body: (FileSystem, Path) => Unit): (Path, Path) = {
    val (s, f) = dirs()
    for ((impl, base) <- Seq(classOf[LocalFileSystem] -> s, classOf[ForkFreeLocalFileSystem] -> f)) {
      val fs = fileSystem(impl.getName)
      try body(fs, base) finally fs.close()
    }
    (s, f)
  }

  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(new URI("file:///"), conf)
    fs
  }

  /** One fresh directory per implementation, same relative layout. */
  private def dirs(): (Path, Path) = {
    val root = Files.createTempDirectory("graft-localfs")
    (new Path(Files.createDirectory(root.resolve("stock")).toUri),
      new Path(Files.createDirectory(root.resolve("forkfree")).toUri))
  }

  /** The full mode, sticky bit included, as octal. */
  private def mode(p: Path): String =
    f"${Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff}%04o"

  /** Every field a caller reads off a status. */
  private def fields(st: FileStatus): Seq[Any] = Seq(
    st.getPath, st.isFile,
    st.isDirectory, st.isSymlink, st.getLen, st.getPermission, st.getOwner,
    st.getGroup, st.getModificationTime, st.getReplication, st.getBlockSize,
    if (st.isSymlink) st.getSymlink else "")

  private def write(fc: FileContext, p: Path, bytes: Array[Byte]): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(bytes) finally out.close()
  }

  test("mode bits after create, mkdir and setPermission match Hadoop's") {
    val (s, f) = dirs()
    val stock = rawFs(new RawLocalFileSystem)
    val free = rawFs(new ForkFreeRawLocalFileSystem)
    val modes = Seq("755", "640", "700", "600", "444", "000")
    for ((fs, base) <- Seq(stock -> s, free -> f)) {
      fs.create(new Path(base, "default")).close()
      modes.foreach(m => fs.create(new Path(base, s"file-$m"), new FsPermission(m), false,
        4096, 1.toShort, 1L << 25, null).close())
      fs.mkdirs(new Path(base, "dir-default"))
      fs.mkdirs(new Path(base, "dir-750/nested"), new FsPermission("750"))
      fs.mkdirs(new Path(base, "sticky"))
      fs.setPermission(new Path(base, "sticky"), new FsPermission("1777"))
      fs.create(new Path(base, "chmod")).close()
      fs.setPermission(new Path(base, "chmod"), new FsPermission("604"))
    }
    // the FileContext API: create and mkdir apply the umask themselves
    for ((fc, base) <- Seq(stockFc -> s, forkFreeFc -> f)) {
      write(fc, new Path(base, "fc-file"), Array[Byte](1, 2, 3))
      fc.mkdir(new Path(base, "fc-dir/a"), new FsPermission("775"), true)
    }
    val names = Seq("default", "dir-default", "dir-750", "dir-750/nested", "sticky",
      "chmod", "fc-file", ".fc-file.crc", "fc-dir", "fc-dir/a") ++ modes.map(m => s"file-$m")
    for (n <- names)
      assert(mode(new Path(f, n)) == mode(new Path(s, n)), n)
    assert(mode(new Path(f, "file-640")) == "0640")
    assert(mode(new Path(f, "fc-file")) == "0640") // 666 under umask 027
    assert(mode(new Path(f, "sticky")) == "1777")  // through Hadoop's own chmod
  }

  test("getFileLinkStatus on a file, a directory, a missing path and a symlink") {
    val d = Files.createTempDirectory("graft-localfs")
    Files.write(d.resolve("file"), Array[Byte](7, 7))
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("link"), Paths.get("file"))
    Files.createSymbolicLink(d.resolve("dangling"), Paths.get("nowhere"))
    // both implementations answer for the same paths, qualified or not;
    // an exception is an answer too
    def answer(status: => FileStatus): Either[String, Seq[Any]] =
      try Right(fields(status)) catch { case e: java.io.IOException => Left(e.getClass.getName) }
    val (stock, free) = (rawFs(new RawLocalFileSystem), rawFs(new ForkFreeRawLocalFileSystem))
    val (sfc, ffc) = (stockFc, forkFreeFc)
    for (n <- Seq("file", "dir", "link", "dangling", "missing");
         p <- Seq(new Path(d.resolve(n).toUri), new Path(d.resolve(n).toString))) {
      assert(answer(free.getFileLinkStatus(p)) == answer(stock.getFileLinkStatus(p)), p)
      assert(answer(ffc.getFileLinkStatus(p)) == answer(sfc.getFileLinkStatus(p)), p)
    }
    val missing = new Path(d.resolve("missing").toString)
    assert(answer(ffc.getFileLinkStatus(missing)) == Left(classOf[FileNotFoundException].getName))
    assert(ffc.getFileLinkStatus(new Path(d.resolve("dir").toString)).isDirectory)
    // a scheme-less path reaches Hadoop's readlink, so the link shows
    val link = free.getFileLinkStatus(new Path(d.resolve("link").toString))
    assert(link.isSymlink && link.getSymlink.getName == "file")
  }

  test(".crc sidecars are written, and a flipped data byte fails the read") {
    val (s, f) = dirs()
    val data = Array.tabulate[Byte](3000)(i => (i * 31).toByte)
    for ((fc, base) <- Seq(stockFc -> s, forkFreeFc -> f)) {
      val p = new Path(base, "part")
      write(fc, p, data)
      val crc = Paths.get(new Path(base, ".part.crc").toUri)
      assert(Files.exists(crc))
      val in = fc.open(p)
      val back = try in.readAllBytes() finally in.close()
      assert(back.sameElements(data))
      val raf = new RandomAccessFile(Paths.get(p.toUri).toFile, "rw")
      try { raf.seek(1500); raf.write(data(1500) ^ 0x5a) } finally raf.close()
      // the sized open is ChecksumFs' own; the one-argument FileContext.open
      // goes to the raw stream and checks nothing, on Hadoop's LocalFs too
      val bad = fc.open(p, 4096)
      try intercept[ChecksumException](bad.readAllBytes()) finally bad.close()
    }
    for (n <- Seq("part", ".part.crc"))
      assert(Files.readAllBytes(Paths.get(new Path(f, n).toUri))
        .sameElements(Files.readAllBytes(Paths.get(new Path(s, n).toUri))), n)
  }

  test("a FileContext rename without overwrite onto an existing file still fails") {
    val (s, f) = dirs()
    for ((fc, base) <- Seq(stockFc -> s, forkFreeFc -> f)) {
      val (tmp, dst) = (new Path(base, ".1.tmp"), new Path(base, "1"))
      write(fc, dst, Array[Byte](1))
      write(fc, tmp, Array[Byte](2))
      intercept[FileAlreadyExistsException](fc.rename(tmp, dst, Options.Rename.NONE))
      assert(Files.readAllBytes(Paths.get(dst.toUri)).toSeq == Seq[Byte](1))
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      assert(Files.readAllBytes(Paths.get(dst.toUri)).toSeq == Seq[Byte](2))
    }
    def listing(base: Path) =
      Files.list(Paths.get(base.toUri)).iterator().asScala.map(_.getFileName.toString).toSet
    assert(listing(f) == listing(s))
    assert(listing(f) == Set("1", ".1.crc"))
  }

  test("FileSystem API: mode bits after create and nested mkdirs match Hadoop's") {
    val (s, f) = onBoth { (fs, base) =>
      fs.create(new Path(base, "part")).close()
      fs.create(new Path(base, "p/q/part")).close() // makes its parents
      fs.create(new Path(base, "file-600"), new FsPermission("600"), false,
        4096, 1.toShort, 1L << 25, null).close()
      assert(fs.mkdirs(new Path(base, "a/b/c")))
      assert(fs.mkdirs(new Path(base, "d/e/f"), new FsPermission("750")))
    }
    val names = Seq("part", ".part.crc", "p", "p/q", "p/q/part", "p/q/.part.crc", "file-600",
      ".file-600.crc", "a", "a/b", "a/b/c", "d", "d/e", "d/e/f")
    for (n <- names)
      assert(mode(new Path(f, n)) == mode(new Path(s, n)), n)
    assert(mode(new Path(f, "part")) == "0640") // 666 under umask 027
    assert(mode(new Path(f, "file-600")) == "0600")
  }

  test("FileSystem API: .crc sidecars are written, hidden from listStatus and verified") {
    val data = Array.tabulate[Byte](3000)(i => (i * 17).toByte)
    val (s, f) = onBoth { (fs, base) =>
      val p = new Path(base, "part")
      val out = fs.create(p)
      try out.write(data) finally out.close()
      assert(Files.exists(Paths.get(new Path(base, ".part.crc").toUri)))
      assert(fs.listStatus(base).map(_.getPath.getName).toSeq == Seq("part"))
      val in = fs.open(p)
      val back = try in.readAllBytes() finally in.close()
      assert(back.sameElements(data))
      val raf = new RandomAccessFile(Paths.get(p.toUri).toFile, "rw")
      try { raf.seek(1500); raf.write(data(1500) ^ 0x5a) } finally raf.close()
      val bad = fs.open(p)
      try intercept[ChecksumException](bad.readAllBytes()) finally bad.close()
    }
    for (n <- Seq("part", ".part.crc"))
      assert(Files.readAllBytes(Paths.get(new Path(f, n).toUri))
        .sameElements(Files.readAllBytes(Paths.get(new Path(s, n).toUri))), n)
  }

  test("FileSystem API: a rename onto an existing file answers as Hadoop's") {
    // File.renameTo replaces a file on POSIX, so Hadoop's LocalFileSystem
    // answers true here (HDFS answers false); the sidecar moves with it
    val answers = Seq.newBuilder[Boolean]
    val (s, f) = onBoth { (fs, base) =>
      val (tmp, dst) = (new Path(base, ".1.tmp"), new Path(base, "1"))
      for ((p, b) <- Seq(dst -> 1, tmp -> 2)) {
        val out = fs.create(p)
        try out.write(b) finally out.close()
      }
      answers += fs.rename(tmp, dst)
      val in = fs.open(dst) // verified against the moved sidecar
      try assert(in.readAllBytes().toSeq == Seq[Byte](2)) finally in.close()
    }
    assert(answers.result() == Seq(true, true))
    def listing(base: Path) =
      Files.list(Paths.get(base.toUri)).iterator().asScala.map(_.getFileName.toString).toSet
    assert(listing(f) == listing(s))
    assert(listing(f) == Set("1", ".1.crc"))
  }

  test("FileSystem.getLocal still casts to LocalFileSystem") {
    val c = new Configuration(conf)
    c.set("fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
    c.set("fs.file.impl.disable.cache", "true") // a fresh instance, not the JVM's
    val local: LocalFileSystem = FileSystem.getLocal(c)
    try {
      assert(local.isInstanceOf[ForkFreeLocalFileSystem])
      assert(local.getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    } finally local.close()
  }

  test("bind evicts a cached stock instance only when closing it deletes nothing") {
    // a user of its own, so the JVM's cached `file:` instance is not touched
    val ugi = UserGroupInformation.createRemoteUser("graft-bind")
    val root = Files.createTempDirectory("graft-bind")
    val doomed = new Path(Files.createFile(root.resolve("doomed")).toUri)
    def asUser[T](body: => T): T = ugi.doAs(new PrivilegedExceptionAction[T] { def run(): T = body })
    try asUser {
      val c = new Configuration(conf)
      c.set("fs.file.impl", classOf[LocalFileSystem].getName)
      val stock = FileSystem.get(new URI("file:///"), c)
      assert(stock.getClass == classOf[LocalFileSystem])
      stock.deleteOnExit(doomed)
      ForkFreeLocalFileSystem.bind(c)
      // closing would delete `doomed`: the stock instance stays bound
      assert(c.get("fs.file.impl") == classOf[ForkFreeLocalFileSystem].getName)
      assert(FileSystem.get(new URI("file:///"), c) eq stock)
      assert(Files.exists(Paths.get(doomed.toUri)))
      stock.cancelDeleteOnExit(doomed)
      ForkFreeLocalFileSystem.bind(c)
      val bound = FileSystem.get(new URI("file:///"), c)
      assert(bound.isInstanceOf[ForkFreeLocalFileSystem])
      assert(Files.exists(Paths.get(doomed.toUri)))
      ForkFreeLocalFileSystem.bind(c) // again: nothing changes
      assert(FileSystem.get(new URI("file:///"), c) eq bound)
    } finally FileSystem.closeAllForUGI(ugi)
  }
}
