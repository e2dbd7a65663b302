package graft

import graft.io.NioLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFileAttributes

/** The fork-free `file:` filesystem answers as the stock one does:
  * permissions, owners, links, checksum sidecars and the no-clobber
  * rename. The stock side is Hadoop's own `LocalFileSystem`. */
class LocalFsParitySpec extends SparkSpec {
  private def conf: Configuration = spark.sparkContext.hadoopConfiguration
  private lazy val fs: FileSystem =
    FileSystem.get(URI.create("file:///"), conf).asInstanceOf[NioLocalFileSystem]
  private lazy val stock: FileSystem = {
    val s = new LocalFileSystem()
    s.initialize(URI.create("file:///"), new Configuration(conf))
    s
  }
  private def fc = FileContext.getFileContext(URI.create("file:///"), conf)

  private def tmp(): Path = new Path("file:" + Files.createTempDirectory("localfs"))
  private def octal(fs: FileSystem, p: Path): String =
    f"${fs.getFileStatus(p).getPermission.toShort}%o"
  private def write(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }
  private def read(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("created files read 0644 and made directories 0755, as on the stock filesystem") {
    val d = tmp()
    for ((writer, tag) <- Seq(fs -> "graft", stock -> "stock")) {
      val file = new Path(d, s"$tag.txt")
      val dir = new Path(d, s"$tag-dir/nested")
      write(writer, file, "x")
      assert(writer.mkdirs(dir))
      for (reader <- Seq(fs, stock)) {
        assert(octal(reader, file) == "644", s"$tag file read by $reader")
        assert(octal(reader, dir) == "755", s"$tag dir read by $reader")
        assert(octal(reader, dir.getParent) == "755", s"$tag parent dir read by $reader")
      }
    }
  }

  test("setPermission round-trips, sticky bit included") {
    val d = tmp()
    val file = new Path(d, "f")
    write(fs, file, "x")
    fs.setPermission(file, new FsPermission("600"))
    assert(octal(fs, file) == "600" && octal(stock, file) == "600")
    val dir = new Path(d, "sticky")
    fs.mkdirs(dir)
    fs.setPermission(dir, new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert(octal(fs, dir) == "1755" && octal(stock, dir) == "1755")
    assert(fs.getFileStatus(dir).getPermission.getStickyBit)
  }

  test("owner and group are the NIO attributes, in statuses and listings") {
    val d = tmp()
    val file = new Path(d, "f")
    write(fs, file, "x")
    val attrs = Files.readAttributes(Paths.get(file.toUri), classOf[PosixFileAttributes])
    for (st <- Seq(fs.getFileStatus(file), fs.listStatus(d).head, stock.getFileStatus(file))) {
      assert(st.getOwner == attrs.owner.getName)
      assert(st.getGroup == attrs.group.getName)
    }
    assert(fs.listStatus(d).map(_.getPath.getName).toSeq == Seq("f")) // .crc hidden
  }

  test("getFileLinkStatus reads the link; a missing path is FileNotFoundException") {
    val d = tmp()
    val target = new Path(d, "target")
    write(fs, target, "payload")
    val link = new Path(d, "link")
    Files.createSymbolicLink(Paths.get(link.toUri), Paths.get(target.toUri))
    val st = fs.getFileLinkStatus(link)
    assert(st.isSymlink && !st.isDirectory)
    // the stock layer shells `readlink` on the path string, so it sees
    // the link only through a scheme-less path
    val bare = Path.getPathWithoutSchemeAndAuthority(link)
    assert(st.getSymlink == stock.getFileLinkStatus(bare).getSymlink)
    assert(fs.getFileLinkStatus(bare).getSymlink == st.getSymlink)
    assert(st.getSymlink.toUri.getPath == target.toUri.getPath)
    assert(fc.getFileLinkStatus(link).isSymlink)
    assert(fc.getLinkTarget(link).toUri.getPath == target.toUri.getPath)
    assert(!fs.getFileLinkStatus(target).isSymlink)
    // the followed status is the target's
    assert(fs.getFileStatus(link).getLen == "payload".length && !fs.getFileStatus(link).isSymlink)
    val missing = new Path(d, "missing")
    intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fs.getFileStatus(missing))
  }

  test("checksum sidecars are still written, and move with a rename") {
    val d = tmp()
    write(fs, new Path(d, "a"), "x")
    assert(Files.exists(Paths.get(d.toUri).resolve(".a.crc")))
    assert(fs.rename(new Path(d, "a"), new Path(d, "b")))
    assert(Files.exists(Paths.get(d.toUri).resolve(".b.crc")))
    assert(!Files.exists(Paths.get(d.toUri).resolve(".a.crc")))
    assert(read(new Path(d, "b")) == "x")
  }

  test("rename onto an existing file: false through FileSystem, an error through FileContext") {
    val d = tmp()
    val (src, dst) = (new Path(d, "src"), new Path(d, "dst"))
    write(fs, src, "new")
    write(fs, dst, "old")
    assert(!fs.rename(src, dst))
    assert(read(dst) == "old" && fs.exists(src))
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(read(dst) == "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(dst) == "new" && !fs.exists(src))
  }
}
