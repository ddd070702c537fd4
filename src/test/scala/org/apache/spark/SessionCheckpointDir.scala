package org.apache.spark

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.GraftTestFs

/** Test seam for the session-level reliable checkpoint dir, the setting
  * `graft.Lineage.cut` reads. Production sets it once through
  * `spark.checkpoint.dir` when the session is built; the specs share one
  * JVM-wide session, so they set it around a block and clear it in a
  * `finally` — a dir that outlived its spec would switch every later
  * spec's lineage cuts to reliable checkpoints. `checkpointDir` is
  * `private[spark]`, hence the package. */
object SessionCheckpointDir {

  def withCheckpointDir[A](spark: SparkSession, dir: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = None
  }

  /** `body` under a fresh `graftfs://` session checkpoint dir (local
    * storage behind a distinct scheme, so the cut must resolve its path
    * through the Hadoop FS registry). Fails unless `body` left a
    * checkpoint file there; returns its result and the dir's local path. */
  def onGraftfs[A](spark: SparkSession, name: String)(body: => A): (A, String) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val dir = Files.createTempDirectory(s"graft-ckpt-$name").toString
    val out = withCheckpointDir(spark, s"graftfs://$dir") {
      // the FS qualifies the empty-authority form to "graftfs:/..."
      val set = spark.sparkContext.getCheckpointDir
      assert(set.exists(_.startsWith("graftfs:")), s"$name: dir resolved to $set")
      body
    }
    assert(filesUnder(dir).nonEmpty, s"$name wrote no checkpoint file under $dir")
    (out, dir)
  }

  /** Every regular file under the local directory `dir`, sorted. */
  def filesUnder(dir: String): Seq[String] = {
    def walk(d: File): Seq[File] = Option(d.listFiles()).toSeq.flatten
      .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    walk(new File(dir)).map(_.getPath).sorted
  }
}
