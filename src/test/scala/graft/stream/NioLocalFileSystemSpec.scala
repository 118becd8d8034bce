package graft.stream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import java.io.{File, RandomAccessFile}
import java.net.URI
import java.nio.file.Files

/** [[NioLocalFileSystem]] writes what Hadoop's own `LocalFileSystem`
  * writes: the same modes on files, directories and `.crc` sidecars,
  * and sidecars that still catch a corrupted byte.  No Spark session. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  private def fileSystem(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Runs `body` once per file system, each in its own fresh directory. */
  private def bothWays(umask: String)(body: (FileSystem, File) => Unit): Seq[File] =
    Seq(new NioLocalFileSystem, new LocalFileSystem).map { raw =>
      val fs = fileSystem(raw, umask)
      val root = Files.createTempDirectory("graft-nio").toFile
      try body(fs, root) finally fs.close()
      root
    }

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  private def crcOf(f: File): File = new File(f.getParentFile, s".${f.getName}.crc")

  test("files, dirs and .crc sidecars get Hadoop's own modes under every mode and umask") {
    for (umask <- Seq("022", "077"); m <- Seq("644", "600", "755")) {
      val Seq(nio, hadoop) = bothWays(umask) { (fs, root) =>
        val perm = new FsPermission(octal(m))
        val out = fs.create(new Path(root.toURI.toString + "/f"), perm, true, 4096,
          1.toShort, fs.getDefaultBlockSize(new Path(root.toURI)), null)
        try out.write("graft".getBytes) finally out.close()
        assert(fs.mkdirs(new Path(root.toURI.toString + "/d/sub"), perm))
      }
      try {
        for (rel <- Seq("f", ".f.crc", "d", "d/sub")) {
          val (a, b) = (new File(nio, rel), new File(hadoop, rel))
          assert(a.exists() && b.exists(), s"$rel missing (mode $m, umask $umask)")
          assert(Files.getPosixFilePermissions(a.toPath) == Files.getPosixFilePermissions(b.toPath),
            s"$rel: mode $m, umask $umask")
          assert(mode(a) == mode(b), s"$rel: mode $m, umask $umask")
        }
      } finally Seq(nio, hadoop).foreach(JobRunner.deleteRecursively(_))
    }
  }

  test("a corrupted data byte fails the read with ChecksumException under both") {
    val data = Array.tabulate[Byte](2000)(i => (i % 251).toByte)
    val roots = bothWays("022") { (fs, root) =>
      val p = new Path(root.toURI.toString + "/part-0")
      val out = fs.create(p)
      try out.write(data) finally out.close()
      val f = new File(root, "part-0")
      assert(crcOf(f).isFile, s"${fs.getClass.getSimpleName} wrote no .crc sidecar")
      val in = fs.open(p)
      val back = new Array[Byte](data.length)
      try in.readFully(back) finally in.close()
      assert(back.sameElements(data))
      val raf = new RandomAccessFile(f, "rw")
      try { raf.seek(1000); raf.write(data(1000) ^ 0xff) } finally raf.close()
      intercept[ChecksumException] {
        val in = fs.open(p)
        try in.readFully(new Array[Byte](data.length)) finally in.close()
      }
    }
    roots.foreach(JobRunner.deleteRecursively(_))
  }

  test("a sticky-bit mode takes Hadoop's own path and lands the same") {
    val Seq(nio, hadoop) = bothWays("022") { (fs, root) =>
      val d = new Path(root.toURI.toString + "/shared")
      assert(fs.mkdirs(d))
      fs.setPermission(d, new FsPermission(octal("1777")))
    }
    try {
      val (a, b) = (new File(nio, "shared"), new File(hadoop, "shared"))
      assert(mode(b) == Integer.parseInt("1777", 8), f"Hadoop set ${mode(b)}%o")
      assert(mode(a) == mode(b), f"NioLocalFileSystem set ${mode(a)}%o, Hadoop ${mode(b)}%o")
      assert(Files.getPosixFilePermissions(a.toPath) == Files.getPosixFilePermissions(b.toPath))
    } finally Seq(nio, hadoop).foreach(JobRunner.deleteRecursively(_))
  }
}
