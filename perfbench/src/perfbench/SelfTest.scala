package perfbench

import java.nio.file.{Files, Path}

/** Self-tests of the benchmark's own code (no Spark session needed).
  * Run with `python3 perfbench/run.py --selftest`; exits non-zero on the
  * first failure. */
object SelfTest {

  private var failures = 0
  private def check(name: String, ok: Boolean): Unit = {
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def write(p: Path, bytes: Int): Unit = {
    Files.createDirectories(p.getParent); Files.write(p, new Array[Byte](bytes))
  }

  private def tree(p: Path): Seq[Path] =
    if (Files.isDirectory(p)) Stats.listDir(p).flatMap(tree) else Seq(p)

  def sameSeedSameInputs(tmp: Path): Unit = {
    def backlog(seed: Long, dir: String): Seq[(String, Seq[Byte])] = {
      val d = tmp.resolve(dir)
      Gen.writeFiles(d, new Gen.Backlog(seed), 0, 5)
      tree(d).sortBy(_.toString).map(p =>
        p.getFileName.toString -> Files.readAllBytes(p).toSeq)
    }
    check("same seed gives a byte-identical change log",
      backlog(7, "a") == backlog(7, "b"))
    check("another seed gives another change log", backlog(7, "c") != backlog(8, "d"))
    check("same seed gives the same lookup requests",
      (0 until 5).map(Reads.lookupKeys(7, _)) == (0 until 5).map(Reads.lookupKeys(7, _)))
    check("another seed gives other lookup requests",
      Reads.lookupKeys(7, 0) != Reads.lookupKeys(8, 0))

  }

  def tailKeepsTenBeyond(): Unit = {
    val ok = (20 to 2000).forall { n =>
      val xs = (1 to n).map(_.toDouble)
      Stats.tailPercentile(n).exists(p => Stats.beyond(xs, p) >= 10)
    }
    check("the _tail percentile keeps >= 10 samples beyond it (n = 20..2000)", ok)
    check("no _tail percentile below 20 samples", (1 to 19).forall(Stats.tailPercentile(_).isEmpty))
    check("the _tail percentile is the highest candidate that does",
      Seq(40 -> 75.0, 100 -> 90.0, 200 -> 95.0, 1000 -> 99.0)
        .forall { case (n, p) => Stats.tailPercentile(n).contains(p) })
  }

  /** A hand-built two-batch target: the snapshot writes buckets 0 and 1;
    * batch 0 rewrites bucket 1 and creates bucket 2; batch 1 rewrites
    * bucket 0. The offset log names each batch's input files. */
  def layoutCounts(tmp: Path): Unit = {
    val target = tmp.resolve("target"); val ckpt = tmp.resolve("checkpoint")
    val src = tmp.resolve("changes")
    write(target.resolve("bucket=0/part-a.parquet"), 100)
    write(target.resolve("bucket=1/part-b.parquet"), 200)
    write(target.resolve("_graft_schema.json"), 10)
    write(target.resolve("bucket=0/.part-a.parquet.crc"), 8)
    val s0 = Stats.bucketSigs(target)
    check("the listing skips hidden and side files",
      s0.keySet == Set(0, 1) && s0(0).files == 1 && s0(0).bytes == 100)

    def logBatch(id: Int, files: Seq[(String, Int)]): Unit = {
      files.foreach { case (n, b) => write(src.resolve(n), b) }
      val lines = "v1" +: files.map { case (n, _) =>
        s"""{"path":"${src.resolve(n).toUri}","timestamp":1,"batchId":$id}""" }
      Files.createDirectories(ckpt.resolve("sources/0"))
      Files.writeString(ckpt.resolve(s"sources/0/$id"), lines.mkString("\n"))
    }
    logBatch(0, Seq("changes-0.json" -> 60, "changes-1.json" -> 40))
    logBatch(1, Seq("changes-2.json" -> 60))

    Files.delete(target.resolve("bucket=1/part-b.parquet"))
    write(target.resolve("bucket=1/part-c.parquet"), 250)
    write(target.resolve("bucket=2/part-d.parquet"), 50)
    val s1 = Stats.bucketSigs(target)
    val (n1, b1) = Stats.touched(s0, s1)
    val in1 = Replicate.batchInputBytes(ckpt, 0)
    check(s"batch 0 touches 2 buckets (got $n1)", n1 == 2)
    check(s"batch 0 input is 100 bytes (got $in1)", in1 == 100)
    check(s"batch 0 write amplification is 3.0 (got ${Stats.writeAmp(b1, in1)})",
      Stats.writeAmp(b1, in1) == 3.0)

    Files.delete(target.resolve("bucket=0/part-a.parquet"))
    write(target.resolve("bucket=0/part-e.parquet"), 120)
    val s2 = Stats.bucketSigs(target)
    val (n2, b2) = Stats.touched(s1, s2)
    val in2 = Replicate.batchInputBytes(ckpt, 1)
    check(s"batch 1 touches 1 bucket (got $n2)", n2 == 1)
    check(s"batch 1 write amplification is 2.0 (got ${Stats.writeAmp(b2, in2)})",
      Stats.writeAmp(b2, in2) == 2.0)
    check("an unchanged listing touches nothing", Stats.touched(s2, s2) == (0, 0L))
  }

  def spanSelfTime(): Unit = {
    val t = new Tracer
    val root = Span(100, 0, 100, "gateway.lookup", 0L, 10000000L)
    t.spans += root
    t.add("spark.job", root, 2000000L, 5000000L)
    t.add("spark.job", root, 4000000L, 6000000L)
    check(s"self time subtracts the union of child spans (got ${t.selfMs(root)})",
      math.abs(t.selfMs(root) - 6.0) < 1e-9)
  }

  def main(args: Array[String]): Unit = {
    val tmp = Path.of(args.headOption.getOrElse("selftest")).toAbsolutePath
    Files.createDirectories(tmp)
    sameSeedSameInputs(tmp.resolve("seed"))
    tailKeepsTenBeyond()
    layoutCounts(tmp.resolve("layout"))
    spanSelfTime()
    println(s"[selftest] ${if (failures == 0) "all passed" else s"$failures failed"}")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
