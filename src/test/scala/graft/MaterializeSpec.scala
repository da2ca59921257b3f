package graft

import org.apache.spark.sql.functions._
import graft.ops.{Curation, Dedup, Materialize, TextAnalysis}

/** The config-switched materialization barrier: the default
  * (localCheckpoint) path and the reliable-checkpoint path must yield
  * identical results for the operators that route corpus-scale
  * intermediates through [[graft.ops.Materialize]] — the cluster escape
  * hatch for the executor-loss caveat the barrier scaladoc owns.
  */
class MaterializeSpec extends SparkSpec {

  private def withReliableCheckpoint(body: => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val prevDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    try withConf(Materialize.ConfKey, "true")(body)
    finally {
      prevDir.foreach(spark.sparkContext.setCheckpointDir)
      val root = new java.io.File(dir)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root)
    }
  }

  test("Materialize: reliable path checkpoints eagerly and keeps values") {
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    val default = Materialize(df).collect().map(_.toSeq).toSet
    withReliableCheckpoint {
      val reliable = Materialize(df)
      // lineage is truncated: the plan no longer contains the range scan
      assert(reliable.queryExecution.optimizedPlan.collectLeaves()
        .forall(l => !l.toString.contains("Range")))
      assert(reliable.collect().map(_.toSeq).toSet === default)
    }
  }

  test("minhash pairs are identical under both materialization paths") {
    val local = Dedup.minhashLsh(spark, sf).collect().map(_.toSeq)
    withReliableCheckpoint {
      val reliable = Dedup.minhashLsh(spark, sf).collect().map(_.toSeq)
      assert(reliable === local)
    }
  }

  test("tfIdf is identical under both materialization paths") {
    val local = TextAnalysis.tfIdf(spark, sf).collect().map(_.toSeq)
    withReliableCheckpoint {
      val reliable = TextAnalysis.tfIdf(spark, sf).collect().map(_.toSeq)
      assert(reliable === local)
    }
  }

  test("every barrier in src/main goes through Materialize") {
    // a raw checkpoint call bypasses spark.graft.reliableCheckpoint; the
    // scale probe's harness timings are its only sanctioned callers
    val root = new java.io.File("src/main/scala")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    val allowed = Set("Materialize.scala", "ScaleProbe.scala")
    val raw = for {
      f <- files(root) if !allowed(f.getName)
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toVector.zipWithIndex finally src.close()
      if line.contains(".localCheckpoint(") || line.contains(".checkpoint(")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(files(root).nonEmpty)
    assert(raw.isEmpty, raw.mkString("\n"))
  }

  test("prepareCorpus is identical under both materialization paths") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val local = rows(Curation.prepareCorpus(spark, sf))
    withReliableCheckpoint {
      assert(rows(Curation.prepareCorpus(spark, sf)) === local)
    }
  }
}
