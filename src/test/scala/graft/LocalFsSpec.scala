package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileAlreadyExistsException, FileContext,
  FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ForkFreeLocalFs, ForkFreeRawLocalFileSystem}

/** The fork-free `file:` classes against stock Hadoop: same modes, same
  * link statuses, same rename outcomes. (StreamingSpec checks that a drain
  * on the session [[GraftSession]] builds starts no process.)
  */
class LocalFsSpec extends AnyFunSuite with SparkTestBase {

  private val localUri = new URI("file:///")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(localUri, new Configuration())
    fs
  }
  private def stockRaw = raw(new RawLocalFileSystem)
  private def graftRaw = raw(new ForkFreeRawLocalFileSystem)

  /** The full st_mode, special bits included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission gives the stock mode on files and directories") {
    withTempDir("graft_localfs_perm") { dir =>
      for ((name, fs) <- Seq("stock" -> stockRaw, "graft" -> graftRaw);
           m <- Seq(0x1a4, 0x1ed, 0x1c0)) { // 0644, 0755, 0700
        val perm = new FsPermission(m.toShort)
        val f = s"$dir/$name-file-$m"
        fs.create(new Path(f)).close()
        fs.setPermission(new Path(f), perm)
        val d = s"$dir/$name-dir-$m"
        fs.mkdirs(new Path(d))
        fs.setPermission(new Path(d), perm)
        // mkdirs(p, perm) masks with the default umask and sets the result
        val masked = s"$dir/$name-masked-$m"
        fs.mkdirs(new Path(masked), perm)
      }
      for (kind <- Seq("file", "dir", "masked"); m <- Seq(0x1a4, 0x1ed, 0x1c0)) {
        val want = mode(s"$dir/stock-$kind-$m")
        assert(mode(s"$dir/graft-$kind-$m") == want, f"$kind $m%o")
        if (kind != "masked") assert(want == m, f"$kind $m%o")
      }
    }
  }

  test("a sticky-bit mode falls back to the stock chmod") {
    withTempDir("graft_localfs_sticky") { dir =>
      val sticky = new FsPermission(0x3ff.toShort) // 01777
      Seq("stock" -> stockRaw, "graft" -> graftRaw).foreach { case (name, fs) =>
        fs.mkdirs(new Path(s"$dir/$name"))
        fs.setPermission(new Path(s"$dir/$name"), sticky)
      }
      // java.nio cannot set the sticky bit: seeing it proves `super` ran
      assert(mode(s"$dir/graft") == 0x3ff)
      assert(mode(s"$dir/graft") == mode(s"$dir/stock"))
    }
  }

  test("getFileLinkStatus gives the stock answer on files, dirs, links and missing paths") {
    withTempDir("graft_localfs_link") { dir =>
      Files.writeString(Paths.get(s"$dir/file"), "x")
      Files.createDirectory(Paths.get(s"$dir/dir"))
      Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/file"))
      Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get(s"$dir/gone"))
      val (stock, graft) = (stockRaw, graftRaw)
      def answer(fs: FileSystem, p: Path): String =
        try {
          val s = fs.getFileLinkStatus(p)
          s"${s.getPermission} ${s.getOwner} ${s.getGroup} $s"
        } catch { case _: FileNotFoundException => "FileNotFoundException" }
      for (name <- Seq("file", "dir", "link", "dangling", "missing");
           p <- Seq(new Path(s"$dir/$name"), new Path(s"file:$dir/$name"))) {
        val want = answer(stock, p)
        assert(answer(graft, p) == want, s"$p")
        if (name == "missing") assert(want == "FileNotFoundException")
      }
      assert(stock.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
      assert(graft.getFileLinkStatus(new Path(s"$dir/dangling")).isSymlink)
    }
  }

  test("FileContext.rename with and without OVERWRITE behaves as stock LocalFs") {
    def context(impl: Option[String]): FileContext = {
      val conf = new Configuration()
      impl.foreach(conf.set("fs.AbstractFileSystem.file.impl", _))
      FileContext.getFileContext(AbstractFileSystem.get(localUri, conf), conf)
    }
    def outcome(fc: FileContext, dir: String): Seq[String] = {
      def put(name: String, body: String): Unit = {
        val out = fc.create(new Path(s"$dir/$name"),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      put("src", "new"); put("dst", "old")
      val refused =
        try { fc.rename(new Path(s"$dir/src"), new Path(s"$dir/dst")); "renamed" }
        catch { case _: FileAlreadyExistsException => "refused" }
      fc.rename(new Path(s"$dir/src"), new Path(s"$dir/dst"), Options.Rename.OVERWRITE)
      val in = fc.open(new Path(s"$dir/dst"))
      val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      refused +: body +: Option(new java.io.File(dir).list()).toSeq.flatten.sorted
    }
    withTempDir("graft_localfs_rename") { dir =>
      Files.createDirectories(Paths.get(s"$dir/stock"))
      Files.createDirectories(Paths.get(s"$dir/graft"))
      val stockFc = context(None)
      val graftFc = context(Some(classOf[ForkFreeLocalFs].getName))
      assert(graftFc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
      val want = outcome(stockFc, s"$dir/stock")
      assert(want == Seq("refused", "new", ".dst.crc", "dst"))
      assert(outcome(graftFc, s"$dir/graft") == want)
    }
  }
}
