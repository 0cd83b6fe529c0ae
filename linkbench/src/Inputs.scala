package graft.bench

import graft.fixtures.Synth
import graft.model._
import graft.queries.LinkageQueries
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Input sizes of the workloads. */
final case class Sizes(linkDocs: Int, trainDocs: Int, heldDocs: Int)

object Sizes {
  val full: Sizes = Sizes(linkDocs = 2000, trainDocs = 500, heldDocs = 2000)
  /** Smoke-test sizes: every code path, seconds per pass. */
  val tiny: Sizes = Sizes(linkDocs = 200, trainDocs = 200, heldDocs = 400)
}

/** The benchmark's seeded inputs, written to parquet during set-up. The
  * program under test only ever reads these tables.
  *
  * The seed is a doc-index offset into `Synth.genDoc` (seed × 10^7, seed
  * taken mod 10^9), so the generator code is the same for every seed and
  * two seeds never share a doc. Terminology size follows the repo's
  * corpus rule, `LinkageQueries.numConcepts` (max(500, docs / 10)).
  */
final class Inputs(dir: String, seed: Long) {
  val offset: Long = math.floorMod(seed, 1000000000L) * 10000000L

  private def write(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name")

  /** link: doc text table, gold spans and the linking
    * dictionary. */
  def writeLinkage(spark: SparkSession, n: Int): Unit = {
    import spark.implicits._
    val k = LinkageQueries.numConcepts(n)
    val off = offset
    write(spark.range(n.toLong).map { i =>
      val d = Synth.genDoc(off + i, k)._1
      (d.doc_id, d.text)
    }.toDF("doc_id", "text"), "docs")
    write(spark.range(n.toLong).flatMap(i => Synth.genDoc(off + i, k)._2).toDF(), "golds")
    write(spark.createDataset(Synth.dictionary(k)).toDF(), "dict")
  }

  /** train_annotate: labelled training docs, held-out docs with their gold
    * spans (for the quality judge), and the terminology tables. The
    * held-out docs follow the training docs in index order. */
  def writeTraining(spark: SparkSession, nTrain: Int, nHeld: Int): Unit = {
    import spark.implicits._
    val k = LinkageQueries.numConcepts(nTrain)
    val off = offset
    val heldOff = offset + nTrain
    write(spark.range(nTrain.toLong).map(i => Synth.genDoc(off + i, k)._1).toDF(), "train_docs")
    write(spark.range(nTrain.toLong).flatMap(i => Synth.genDoc(off + i, k)._2).toDF(), "train_golds")
    write(spark.range(nHeld.toLong).map(i => Synth.genDoc(heldOff + i, k)._1).toDF(), "held_docs")
    write(spark.range(nHeld.toLong).flatMap(i => Synth.genDoc(heldOff + i, k)._2).toDF(), "held_golds")
    write(spark.createDataset(Synth.concepts(k)).toDF(), "concepts")
    write(spark.createDataset(Synth.descriptions(k)).toDF(), "descriptions")
    write(spark.createDataset(Synth.extConcepts(k)).toDF(), "ext_concepts")
    write(spark.createDataset(Synth.extMappings(k)).toDF(), "ext_mappings")
    write(spark.createDataset(Synth.abbreviations(k)).toDF(), "abbreviations")
  }

  def df(spark: SparkSession, name: String): DataFrame = spark.read.parquet(s"$dir/$name")

  def docsText(spark: SparkSession): Dataset[(String, String)] = {
    import spark.implicits._
    df(spark, "docs").as[(String, String)]
  }
  def docs(spark: SparkSession, name: String): Dataset[Doc] = {
    import spark.implicits._
    df(spark, name).as[Doc]
  }
  def golds(spark: SparkSession, name: String): Dataset[GoldAnnotation] = {
    import spark.implicits._
    df(spark, name).as[GoldAnnotation]
  }
  def dict(spark: SparkSession): Dataset[DictEntry] = {
    import spark.implicits._
    df(spark, "dict").as[DictEntry]
  }
  def concepts(spark: SparkSession): Dataset[Concept] = {
    import spark.implicits._
    df(spark, "concepts").as[Concept]
  }
  def descriptions(spark: SparkSession): Dataset[Description] = {
    import spark.implicits._
    df(spark, "descriptions").as[Description]
  }
}

object Checksums {
  /** Order-independent content checksum: "rows:sum of row xxhash64". */
  def of(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).cast("string")).head()
    s"${r.getLong(0)}:${r.getString(1)}"
  }
}
