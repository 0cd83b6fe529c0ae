package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.Synth
import graft.functions.VectorAgg
import graft.sources.Readers
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ReadersVectorAggSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  test("notes/annotations CSV round-trip (S1) incl. multiline text") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val notes = Seq(("n1", "line one\nline two, with comma"), ("n2", "plain"))
      .toDF("note_id", "text")
    notes.write.option("header", "true").option("escape", "\"").csv(s"$dir/notes")
    val back = Readers.notesCsv(spark, s"$dir/notes").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back("n1") == "line one\nline two, with comma" && back("n2") == "plain")

    val anns = Seq(("n1", 0, 5, 100003L)).toDF("note_id", "start", "end", "concept_id")
    anns.write.option("header", "true").csv(s"$dir/anns")
    val a = Readers.annotationsCsv(spark, s"$dir/anns").collect()
    assert(a.toSeq == Seq(graft.model.GoldAnnotation("n1", 0, 5, 100003L)))
  }

  test("RF2 TSV readers (S3) with SCTID-scale longs and quote chars") {
    val dir = Files.createTempDirectory("graft_tsv").toString
    Files.writeString(java.nio.file.Path.of(dir, "concepts.txt"),
      "id\teffectiveTime\tactive\tmoduleId\tdefinitionStatusId\n" +
        "900000000000003001\t20230531\t1\t1\t1\n" +
        "123456789012345678\t20230531\t0\t1\t1\n")
    Files.writeString(java.nio.file.Path.of(dir, "descriptions.txt"),
      "id\teffectiveTime\tactive\tmoduleId\tconceptId\tlanguageCode\ttypeId\tterm\tcaseSignificanceId\n" +
        "1\t20230531\t1\t1\t900000000000003001\ten\t900000000000003001\tAcute \"quoted\" finding (finding)\t1\n" +
        "2\t20230531\t1\t1\t900000000000003001\ten\t900000000000013009\tacute synonym\t1\n")
    Files.writeString(java.nio.file.Path.of(dir, "relationships.txt"),
      "id\teffectiveTime\tactive\tmoduleId\tsourceId\tdestinationId\trelationshipGroup\ttypeId\tcharacteristicTypeId\tmodifierId\n" +
        "1\t20230531\t1\t1\t123456789012345678\t900000000000003001\t0\t116680003\t1\t1\n")
    val c = Readers.rf2Concepts(spark, s"$dir/concepts.txt").collect()
    assert(c.map(x => (x.concept_id, x.active)).toSet ==
      Set((900000000000003001L, 1), (123456789012345678L, 0)))
    val d = Readers.rf2Descriptions(spark, s"$dir/descriptions.txt").collect()
    assert(d.find(_.typ == "FSN").get.term == "Acute \"quoted\" finding (finding)")
    assert(d.find(_.typ == "SYN").get.term == "acute synonym")
    val r = Readers.rf2Relationships(spark, s"$dir/relationships.txt").collect()
    assert(r.head.type_id == graft.model.Relationship.IsA)
  }

  test("docs parquet round-trip preserves the interleaved span sequence (S4)") {
    val dir = Files.createTempDirectory("graft_docs").toString
    val (docsSeq, _) = Synth.corpus(12, 100)
    Readers.writeDocs(spark.createDataset(docsSeq), s"$dir/docs")
    val back = Readers.readDocs(spark, s"$dir/docs").collect().sortBy(_.doc_id)
    assert(back.toSeq == docsSeq.sortBy(_.doc_id))
  }

  test("dictionary parquet round-trip (S5)") {
    val dir = Files.createTempDirectory("graft_dict").toString
    val dict = Synth.dictionary(40) ++ Synth.ucDictionary(40)
    Readers.writeDict(spark.createDataset(dict), s"$dir/dict")
    assert(Readers.readDict(spark, s"$dir/dict").collect().sortBy(e => (e.section, e.mention, e.concept_id)).toSeq ==
      dict.sortBy(e => (e.section, e.mention, e.concept_id)))
  }

  test("submission sink writes exactly the four contract columns (S6)") {
    val dir = Files.createTempDirectory("graft_sub").toString
    val pred = Seq(("d1", 10, 20, 42L)).toDF("doc_id", "start", "end", "concept_id")
    Readers.writeSubmission(pred, s"$dir/sub", coalesceOne = true)
    val back = spark.read.option("header", "true").csv(s"$dir/sub")
    assert(back.columns.toSeq == Seq("note_id", "start", "end", "concept_id"))
    assert(back.count() == 1)
  }

  test("VectorMean aggregator equals the relational posexplode mean, and normalizes") {
    val emb = (0 until 50).map { i =>
      (i % 5, Array.tabulate(8)(d =>
        (Synth.h(i.toLong, d.toLong, 13L).toDouble / Long.MaxValue).toFloat).toSeq)
    }.toDF("label", "embedding")
    val viaAgg = emb.groupBy("label")
      .agg(VectorAgg.vectorMean(8)(col("embedding")).as("mean"))
      .select(col("label"), posexplode(col("mean")).as(Seq("pos", "val")))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getFloat(2)).toMap
    val viaSql = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .groupBy("label", "pos").agg(avg(col("val").cast("double")).as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(viaAgg.keySet == viaSql.keySet)
    for ((k, v) <- viaAgg) assert(math.abs(v - viaSql(k)) < 1e-6, s"$k: $v vs ${viaSql(k)}")
    // normalized variant has unit L2 norm
    val norms = emb.groupBy("label")
      .agg(VectorAgg.vectorMean(8, normalize = true)(col("embedding")).as("mean"))
      .collect().map(_.getSeq[Float](1))
    for (v <- norms) assert(math.abs(v.map(x => x.toDouble * x).sum - 1.0) < 1e-5)
  }
}
