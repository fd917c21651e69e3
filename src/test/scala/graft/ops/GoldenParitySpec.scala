package graft.ops

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkSpec
import graft.streaming.{Character, Fiction, FictionAndCharacters, JoinInput, StatefulOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The reference's integration golden test, ported: the 20-character /
  * 12-fiction seed (`ci/populate_topics.go:24-92`) flowing through the
  * characters⋈fictions topology must reproduce the expected 12-entry
  * output map (`topic_processor_test.go:157-344,413-443`) exactly —
  * field-for-field, characters in characterIds order.
  *
  * The fixture `src/test/resources/fictions_and_characters_golden.json`
  * is the reference's expected-output JSON verbatim (public test data,
  * kept as the parity contract). The seed is derived from it: every
  * character appears embedded in some fiction, and each fiction's
  * characterIds are its characters' ids in order — so a wrong join
  * (ordering, suppression, reverse-index re-emit) cannot reproduce the
  * fixture.
  *
  * Both forms are checked: the declarative batch join
  * ([[FictionOps.joinBatch]]) and the incremental streaming topology
  * ([[StatefulOps.fictionsJoin]]) under the reference's feed order
  * (characters first — `populate_topics.go:100-120`) and under the
  * adversarial reverse order (fictions first, all output arriving via
  * re-emission).
  */
class GoldenParitySpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private lazy val golden: Map[String, FictionAndCharacters] = {
    val in = getClass.getResourceAsStream("/fictions_and_characters_golden.json")
    assert(in != null, "golden fixture missing from test resources")
    val root = new ObjectMapper().readTree(in)
    root.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> FictionAndCharacters(
        v.get("id").asText, v.get("fictionType").asText, v.get("title").asText,
        v.get("characters").elements().asScala.map(parseCharacter).toSeq)
    }.toMap
  }

  private def parseCharacter(c: JsonNode): Character =
    Character(c.get("id").asText, c.get("name").asText, c.get("wikipediaUrl").asText)

  // seed = reference input, reconstructed from the expected output
  private lazy val seedFictions: Seq[Fiction] = golden.values.toSeq.sortBy(_.id)
    .map(f => Fiction(f.id, f.fictionType, f.title, f.characters.map(_.id)))
  private lazy val seedCharacters: Seq[Character] =
    golden.values.flatMap(_.characters).toSeq.distinct.sortBy(_.id)

  test("golden fixture has the reference shape: 12 fictions, 20 characters") {
    assert(golden.size == 12)
    assert(seedCharacters.size == 20)
    assert(golden.keySet == (1 to 12).map(i => f"FICTION_$i%03d").toSet)
    // spot-check a transcription detail against the reference seed
    assert(golden("FICTION_002").characters.map(_.id) == Seq(
      "CHARACTER_002", "CHARACTER_003", "CHARACTER_005", "CHARACTER_007",
      "CHARACTER_018", "CHARACTER_019", "CHARACTER_020"))
  }

  test("FictionOps.joinBatch reproduces the reference golden output exactly") {
    val got = FictionOps.joinBatch(seedFictions.toDS(), seedCharacters.toDS())
      .collect().map(f => f.id -> f).toMap
    assert(got == golden)
  }

  test("StatefulOps.fictionsJoin reproduces the golden output under the reference feed order") {
    val in = MemoryStream[JoinInput]
    val q = StatefulOps.fictionsJoin(in.toDS())
      .writeStream.format("memory").queryName("golden_fwd")
      .outputMode(OutputMode.Update()).start()
    // characters topic first, then fictions — populate_topics.go main()
    in.addData(seedCharacters.map(c => JoinInput(0, Some(c), None)))
    q.processAllAvailable()
    in.addData(seedFictions.map(f => JoinInput(0, None, Some(f))))
    q.processAllAvailable()
    val rows = spark.table("golden_fwd").as[FictionAndCharacters].collect()
    q.stop()
    // last emit per key = the topic's final value, as the reference consumer folds it
    val finalByKey = rows.zipWithIndex.groupBy(_._1.id)
      .map { case (k, vs) => k -> vs.maxBy(_._2)._1 }
    assert(finalByKey == golden)
  }

  test("two-stage entity-keyed join (resolve → assemble) reproduces the golden output across queries") {
    import graft.streaming.StatefulOps
    withTempDir("graft_twostage") { tmp =>
      val work = tmp.toString
      // stage 1: character-keyed resolution, chained through an
      // exactly-once parquet file sink (the kasper chained-processor shape)
      val in = MemoryStream[JoinInput]
      val q1 = StatefulOps.resolveCharacters(in.toDS())
        .writeStream.format("parquet")
        .option("path", s"$work/stage").option("checkpointLocation", s"$work/ckpt1")
        .outputMode(OutputMode.Append()).start()
      // stage 2: fiction-keyed assembly reading the intermediate
      val stage = spark.readStream
        .schema(Seq.empty[StatefulOps.StageRecord].toDS().schema)
        .parquet(s"$work/stage").as[StatefulOps.StageRecord]
      val q2 = StatefulOps.assembleFictions(stage)
        .writeStream.format("memory").queryName("golden_two_stage")
        .outputMode(OutputMode.Update()).start()

      // adversarial order: fictions first — everything resolves via state
      in.addData(seedFictions.map(f => JoinInput(0, None, Some(f))))
      q1.processAllAvailable(); q2.processAllAvailable()
      assert(spark.table("golden_two_stage").count() == 0,
        "no characters yet — assembly suppressed")
      in.addData(seedCharacters.map(c => JoinInput(0, Some(c), None)))
      q1.processAllAvailable(); q2.processAllAvailable()
      val rows = spark.table("golden_two_stage").as[FictionAndCharacters].collect()
      q1.stop(); q2.stop()
      val finalByKey = rows.zipWithIndex.groupBy(_._1.id)
        .map { case (k, vs) => k -> vs.maxBy(_._2)._1 }
      assert(finalByKey == golden)
    }
  }

  test("StatefulOps.fictionsJoin converges to the golden output when fictions arrive first") {
    val in = MemoryStream[JoinInput]
    val q = StatefulOps.fictionsJoin(in.toDS())
      .writeStream.format("memory").queryName("golden_rev")
      .outputMode(OutputMode.Update()).start()
    in.addData(seedFictions.map(f => JoinInput(0, None, Some(f))))
    q.processAllAvailable()
    assert(spark.table("golden_rev").count() == 0, "no characters yet — all emits suppressed")
    in.addData(seedCharacters.map(c => JoinInput(0, Some(c), None)))
    q.processAllAvailable()
    val rows = spark.table("golden_rev").as[FictionAndCharacters].collect()
    q.stop()
    val finalByKey = rows.zipWithIndex.groupBy(_._1.id)
      .map { case (k, vs) => k -> vs.maxBy(_._2)._1 }
    assert(finalByKey == golden)
  }
}
