package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog

import graft.sources.LocalFs

/** graft's `file:` filesystem against Hadoop's stock one, each check
  * run through both on one temp dir: what either returns for a path must
  * be the same, because checkpoints and stores written under one are
  * read under the other. */
class LocalFsSpec extends SparkSpec {

  private def fsPair(umask: String = "022"): Seq[FileSystem] = {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", umask)
    Seq(new LocalFileSystem, new LocalFs).map { fs =>
      fs.initialize(URI.create("file:///"), conf); fs
    }
  }

  /** The three spellings of one absolute path. */
  private def spellings(abs: String): Seq[Path] =
    Seq(new Path(abs), new Path(s"file:$abs"), new Path(s"file://$abs"))

  private def shape(s: FileStatus) =
    (s.getPath.toUri.toString, s.getLen, s.isDirectory, s.getModificationTime, s.isSymlink)

  /** The permission bits of `p`'s st_mode, sticky bit included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Integer].intValue & 0xfff

  test("status, listing and glob results are the stock ones for every path spelling") {
    val root = tmpDir("localfs", create = true)
    Files.write(Paths.get(s"$root/a.txt"), "hello".getBytes)
    Files.createDirectories(Paths.get(s"$root/sub/inner"))
    Files.write(Paths.get(s"$root/sub/b.txt"), "x".getBytes)
    val Seq(stock, graft) = fsPair()
    for (dir <- spellings(root); rel <- Seq("a.txt", "sub", "sub/b.txt")) {
      val p = new Path(dir, rel)
      assert(shape(graft.getFileStatus(p)) == shape(stock.getFileStatus(p)), p)
      assert(shape(graft.getFileLinkStatus(p)) == shape(stock.getFileLinkStatus(p)), p)
    }
    for (dir <- spellings(root) ++ spellings(s"$root/sub")) {
      assert(graft.listStatus(dir).map(shape).sorted.toSeq ==
        stock.listStatus(dir).map(shape).sorted.toSeq, dir)
      val glob = new Path(dir, "*")
      assert(graft.globStatus(glob).map(shape).sorted.toSeq ==
        stock.globStatus(glob).map(shape).sorted.toSeq, glob)
    }
    // the path strings a file-stream source keys its seen-files log by
    assert(graft.listStatus(new Path(root)).map(_.getPath.toUri.toString)
      .forall(_.startsWith("file:///")))
  }

  test("creates and mkdirs under umask 022 and 077 give the stock mode bits") {
    val root = tmpDir("localfs_mode", create = true)
    for (umask <- Seq("022", "077"); perm <- Seq(0x1ff, 0x1a4, 0x1c0)) {
      val names = Seq("stock", "graft")
      val modes = fsPair(umask).zip(names).map { case (fs, n) =>
        val f = s"$root/${n}_${umask}_$perm.bin"
        val d = s"$root/${n}_${umask}_${perm}_dir/a/b"
        fs.create(new Path(f), new FsPermission(perm.toShort), true, 4096, 1.toShort,
          1L << 25, null).close()
        assert(fs.mkdirs(new Path(d), new FsPermission(perm.toShort)))
        (mode(f), mode(d), mode(new java.io.File(d).getParent))
      }
      assert(modes(0) == modes(1), s"umask $umask perm ${perm.toOctalString}")
    }
    // a sticky bit has no POSIX file attribute; it still lands
    fsPair().zip(Seq("stock", "graft")).foreach { case (fs, n) =>
      val d = s"$root/sticky_$n"
      fs.mkdirs(new Path(d))
      fs.setPermission(new Path(d), new FsPermission(Integer.parseInt("1777", 8).toShort))
      assert(mode(d) == Integer.parseInt("1777", 8), n)
    }
  }

  test("a symlink's link status and a missing path's error are the stock ones") {
    val root = tmpDir("localfs_link", create = true)
    Files.write(Paths.get(s"$root/target.txt"), "abc".getBytes)
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(s"$root/target.txt"))
    val Seq(stock, graft) = fsPair()
    for (p <- spellings(s"$root/link")) {
      val (s, g) = (stock.getFileLinkStatus(p), graft.getFileLinkStatus(p))
      assert(shape(g) == shape(s), p)
      def target(st: FileStatus) = if (st.isSymlink) Some(st.getSymlink) else None
      assert(target(g) == target(s), p)
    }
    for (fs <- Seq(stock, graft); p <- spellings(s"$root/missing")) {
      intercept[FileNotFoundException](fs.getFileStatus(p))
      intercept[FileNotFoundException](fs.getFileLinkStatus(p))
      intercept[FileNotFoundException](fs.listStatus(p))
    }
  }

  test("FileContext renames do not overwrite, and neither does a metadata-log add") {
    val root = tmpDir("localfs_fc", create = true)
    for ((afs, n) <- Seq("org.apache.hadoop.fs.local.LocalFs" -> "stock",
        classOf[LocalFs.Afs].getName -> "graft")) {
      val conf = new Configuration()
      conf.set("fs.AbstractFileSystem.file.impl", afs)
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      assert(fc.getDefaultFileSystem.getClass.getName == afs)
      val (a, b) = (new Path(s"$root/${n}_a"), new Path(s"$root/${n}_b"))
      Seq(a, b).foreach { p =>
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        out.write(p.getName.getBytes); out.close()
      }
      intercept[FileAlreadyExistsException](fc.rename(a, b, Options.Rename.NONE))
      assert(new String(Files.readAllBytes(Paths.get(b.toUri.getPath))) == s"${n}_b")
      fc.rename(a, b, Options.Rename.OVERWRITE)
      assert(new String(Files.readAllBytes(Paths.get(b.toUri.getPath))) == s"${n}_a")
    }
    // SegmentStore's "an add that finds v+1 taken throws" rests on this
    val log = new HDFSMetadataLog[String](spark, tmpDir("localfs_log"))
    assert(log.add(0, "first"))
    assert(!log.add(0, "second"))
    assert(log.get(0).contains("first"))
  }

  test("install resolves file: to graft's classes, evicting a cached stock instance") {
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      LocalFsSpec.useStock(conf)
      val stock = FileSystem.get(URI.create("file:///"), conf)
      assert(!stock.isInstanceOf[LocalFs])
      assert(FileSystem.get(URI.create("file:///"), conf) eq stock, "cached")
      graft.plans.GraftExtensions.install(spark)
      assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[LocalFs])
      assert(new Path("file:/tmp").getFileSystem(conf).isInstanceOf[LocalFs])
      assert(FileContext.getFileContext(URI.create("file:///"), conf)
        .getDefaultFileSystem.isInstanceOf[LocalFs.Afs])
      assert(FileContext.getFileContext(spark.sessionState.newHadoopConf())
        .getDefaultFileSystem.isInstanceOf[LocalFs.Afs])
    } finally LocalFs.install(conf)
  }
}

object LocalFsSpec {
  /** Put Hadoop's stock `file:` filesystem back in force on `conf`: the
    * one `FileSystem.get` resolves with no `fs.file.impl` set, and
    * Hadoop's `LocalFs` for `FileContext`. */
  def useStock(conf: Configuration): Unit = {
    conf.unset("fs.file.impl")
    conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val cached = FileSystem.get(URI.create("file:///"), conf)
    if (cached.isInstanceOf[LocalFs]) cached.close()
  }
}
