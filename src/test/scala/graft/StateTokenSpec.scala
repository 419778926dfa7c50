package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.IvfIndex
import graft.streaming.{IncrementalPostings, StateStore}

/** The StateStore change token and its one cache: nothing a cache holds
  * survives a commit that changed what it describes. Each case pins the
  * root's mtime with `setTimes`, so the only thing that can tell the
  * before and after apart is the commit protocol itself (mtimes tick at
  * filesystem resolution, and a same-tick commit is the case that
  * matters). */
class StateTokenSpec extends SparkSpec {
  import spark.implicits._

  private val Pinned = 1700000000000L

  private def fsFor(p: String): FileSystem =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def pin(p: String): Unit = fsFor(p).setTimes(new Path(p), Pinned, -1)

  private def writeFile(p: String): Unit = {
    val out = fsFor(p).create(new Path(p), true)
    try out.write("x".getBytes("UTF-8")) finally out.close()
  }

  test("a cell listing cached before an IVF rebuild with a different nlist does not survive it") {
    val path = Files.createTempDirectory("graft_tokivf").toString + "/ivf"
    val vecs = (0 until 48).map { i =>
      val th = 2 * math.Pi * i / 48
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat))
    }.toDF("vec_id", "embedding")
    val vecRoot = path + "/vectors"
    def cells(): Seq[String] = StateStore.liveBuckets(spark, vecRoot, "cell=")
    IvfIndex.build(vecs, path, nlist = 2, iters = 1)
    pin(vecRoot)
    assert(cells() === Seq("cell=0", "cell=1"))
    IvfIndex.build(vecs, path, nlist = 4, iters = 1)
    pin(vecRoot)
    assert(cells() === Seq("cell=0", "cell=1", "cell=2", "cell=3"),
      "the listing cached against the first build was served after the rebuild")
    // and the probe reads every cell of the new layout
    assert(IvfIndex.search(spark, path, Seq(1f, 0f), k = 48, probes = 4).count() === 48L)
  }

  test("docStats of a pre-sidecar root is never cached across tokenizers") {
    val root = Files.createTempDirectory("graft_tokpre").toString + "/postings"
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("1", 1, "put", "alpha beta gamma"),
      DocChange("2", 2, "put", "delta epsilon")).toDF(), root)
    // a pre-sidecar root: the dstats root keeps its `_seq` (so it has a
    // token) but holds no bucket dirs
    val dstats = new Path(root + "/dstats")
    val fs = fsFor(root)
    fs.listStatus(dstats).map(_.getPath).filter(_.getName.startsWith("b="))
      .foreach(fs.delete(_, true))
    assert(fs.exists(new Path(dstats, "_seq")))
    assert(StateStore.stateToken(spark, dstats.toString).isDefined)
    def avgdl(tokenize: Column => Column): Double =
      IncrementalPostings.docStats(spark, root, tokenize).head().getDouble(1)
    val words = avgdl(split(_, " "))
    val letters = avgdl(t => split(t, ""))
    assert(words === 2.5)
    assert(letters === (16.0 + 13.0) / 2,
      "the fallback aggregate measured with one tokenizer was served to another")
  }

  test("a parent listing taken between a subroot commit's bump and swap is not served after it") {
    val root = Files.createTempDirectory("graft_tokpar").toString + "/root"
    StateStore.commitBuckets(spark, root, Seq("b=0")) { tmp =>
      writeFile(s"$tmp/b=0/part-0")
    }
    pin(root)
    assert(StateStore.liveBuckets(spark, root) === Seq("b=0"))
    StateStore.commit(spark, root + "/b=1") { tmp =>
      writeFile(s"$tmp/part-0")
      // a reader racing the commit: the parent's counter is already
      // bumped, the new bucket is not yet swapped in
      pin(root)
      assert(StateStore.liveBuckets(spark, root) === Seq("b=0"))
    }
    pin(root)
    assert(StateStore.liveBuckets(spark, root) === Seq("b=0", "b=1"),
      "the listing taken mid-commit was served after the commit")
  }

  test("every commit moves the token of the root it writes and of that root's parent") {
    val parent = Files.createTempDirectory("graft_tokmove").toString + "/p"
    val sub = parent + "/sub"
    StateStore.commitBuckets(spark, sub, Seq("b=0"))(tmp => writeFile(s"$tmp/b=0/part-0"))
    def tokens() = {
      pin(parent); pin(sub)
      (StateStore.stateToken(spark, parent), StateStore.stateToken(spark, sub))
    }
    val t0 = tokens()
    assert(t0._1.isDefined && t0._2.isDefined)
    StateStore.commitBuckets(spark, sub, Seq("b=0"))(tmp => writeFile(s"$tmp/b=0/part-0"))
    val t1 = tokens()
    StateStore.commit(spark, sub)(tmp => writeFile(s"$tmp/b=0/part-0"))
    val t2 = tokens()
    assert(Set(t0._1, t1._1, t2._1).size === 3, "the parent's token did not move")
    assert(Set(t0._2, t1._2, t2._2).size === 3, "the root's token did not move")
    assert(t2._2.get.seq === t1._2.get.seq + 1,
      "a whole-root commit must carry the root's counter forward")
  }
}
