package graft.perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.{Files => JFiles}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {

  test("a query that throws is recorded as failed, named on stderr, never timed") {
    val tr = new Tracer(enabled = true)
    val err = new ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new PrintStream(err, true))
    val (e, rows, schema) =
      try Main.execute(tr, "q_boom", 3)(() => throw new IllegalStateException("boom"))
      finally System.setErr(saved)
    assert(!e.ok && e.error.contains("boom"))
    assert(e.buildS.isNaN && e.planS.isNaN && e.execS.isNaN)
    assert(rows == null && schema == null)
    assert(err.toString.contains("q_boom failed in pass 3"))
    // the query's span and its build phase are still closed
    assert(tr.spans.map(_.name) == Seq("q_boom", "build"))
    assert(tr.spans.forall(s => !s.end.isNaN && s.end >= s.start))
    assert(tr.spans(1).parent == tr.spans(0).id)
  }

  test("spans nest by the order they are opened") {
    val tr = new Tracer(enabled = true)
    tr.span("pass1", "run") { tr.span("q1", "queries") { tr.span("plan", "queries")(()) } }
    assert(tr.spans.map(s => s.name -> s.parent) ==
      Seq("pass1" -> -1, "q1" -> 0, "plan" -> 1))
    val off = new Tracer(enabled = false)
    assert(off.span("x", "run")(42) == 42 && off.spans.isEmpty)
  }

  test("Disk.size sums a directory of known size") {
    val dir = JFiles.createTempDirectory("perfbench-disk").toFile
    try {
      JFiles.write(new File(dir, "a").toPath, new Array[Byte](1000))
      new File(dir, "sub").mkdir()
      JFiles.write(new File(dir, "sub/b").toPath, new Array[Byte](2345))
      assert(Disk.size(dir) == 3345)
      assert(Disk.size(new File(dir, "missing")) == 0)
    } finally graft.Scratch.deleteRecursively(dir)
  }

  test("bytes written through Hadoop's local file system are counted") {
    val dir = JFiles.createTempDirectory("perfbench-hadoop").toFile
    try {
      val fs = FileSystem.getLocal(new Configuration()).getRaw
      val before = Disk.hadoopLocalBytesWritten
      val out = fs.create(new Path(new File(dir, "f").toURI))
      out.write(new Array[Byte](4096)); out.close()
      assert(Disk.hadoopLocalBytesWritten - before == 4096)
      assert(Disk.size(dir) == 4096)
    } finally graft.Scratch.deleteRecursively(dir)
  }

  test("the content hash ignores row and column order, not values") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ab = StructType(Seq(StructField("a", IntegerType), StructField("b", DoubleType)))
    val ba = StructType(Seq(StructField("b", DoubleType), StructField("a", IntegerType)))
    val h = Check.hash(ab, Array(Row(1, 0.5), Row(2, 1.0 / 3)))
    assert(h == Check.hash(ba, Array(Row(1.0 / 3 + 1e-15, 2), Row(0.5, 1))))
    assert(h != Check.hash(ab, Array(Row(1, 0.5), Row(2, 0.3334))))
  }
}
