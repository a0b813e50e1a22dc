package graft

import java.nio.file.{Files, Paths}

/** Ownership contracts of the reliable-checkpoint primitive (the two
  * r17 review findings): path comparison honors separator boundaries
  * (a sibling dir sharing a string prefix is never graft's to reap),
  * and a release handle still reaps its files after the conf is unset
  * (ownership is anchored to the context dirs Ckpt itself set, not to
  * the conf's value at release time).
  */
class CkptSpec extends SparkSpec {
  import spark.implicits._

  test("underDir honors path-separator boundaries and schemes") {
    assert(Ckpt.underDir("/data/ckpt/uuid/rdd-1", "/data/ckpt"))
    assert(Ckpt.underDir("file:/data/ckpt/uuid/rdd-1", "/data/ckpt"))
    assert(Ckpt.underDir("/data/ckpt", "/data/ckpt/"))
    assert(!Ckpt.underDir("/data/ckpt-app/uuid/rdd-1", "/data/ckpt"))
    assert(!Ckpt.underDir("/data/ck", "/data/ckpt"))
  }

  test("release reaps reliable files after conf unset; siblings untouched") {
    val root = Files.createTempDirectory("graft-ckpt-own")
    val dir = root.resolve("ckpt").toString
    // a sibling whose name shares the string prefix — must survive
    val sibling = Paths.get(dir + "-app")
    Files.createDirectories(sibling)
    val marker = sibling.resolve("keep.txt")
    Files.write(marker, "app-owned".getBytes)
    spark.conf.set(Ckpt.DirConf, dir)
    try {
      val ck = Ckpt(Seq(1L, 2L, 3L).toDF("id"))
      val rdd = ck.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
      val f = rdd.getCheckpointFile.get
      assert(Ckpt.underDir(f, dir), f)
      // the leak scenario: conf unset BEFORE the handle is invoked
      spark.conf.unset(Ckpt.DirConf)
      graft.Release(ck)
      assert(!Files.exists(Paths.get(f.stripPrefix("file:"))),
        "release with conf unset leaked the reliable checkpoint files")
      assert(Files.exists(marker), "sibling-prefix dir was reaped")
    } finally {
      spark.conf.unset(Ckpt.DirConf)
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(sibling.toFile)
    }
  }

  test("concurrent first use sets the context dir once and records it") {
    val root = Files.createTempDirectory("graft-ckpt-race")
    val frames = (1 to 4).map(i => Seq(i.toLong).toDF("id"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(frames.size)
    try {
      (1 to 3).foreach { round =>
        val dir = root.resolve(s"ckpt-$round")
        spark.conf.set(Ckpt.DirConf, dir.toString)
        // all threads reach the check-and-set together
        val start = new java.util.concurrent.CyclicBarrier(frames.size)
        frames.map(df => pool.submit(() => { start.await(); Ckpt(df) }))
          .foreach(_.get())
        spark.conf.unset(Ckpt.DirConf)
        // each setCheckpointDir call makes a fresh <dir>/<uuid>
        val made = dir.toFile.listFiles().toSeq
        assert(made.size == 1, s"round $round: context dir set ${made.size} times")
        assert(Ckpt.owns(frames.head, made.head.toString),
          s"context dir ${made.head} was set but never recorded")
      }
    } finally {
      pool.shutdown()
      spark.conf.unset(Ckpt.DirConf)
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }
}
