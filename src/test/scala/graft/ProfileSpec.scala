package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

class ProfileSpec extends SparkTestBase {
  private def profiled(name: String): Profile.Run = {
    val recorder = new Profile.Recorder
    spark.sparkContext.addSparkListener(recorder)
    try Profile.profile(spark, recorder, sfDir, name, 1)
    finally spark.sparkContext.removeSparkListener(recorder)
  }

  test("q46_rfm_segment: the localCheckpoint runs in build, the result in action") {
    val r = profiled("q46_rfm_segment")
    assert(r.error.isEmpty, r.error)
    val build = r.build.groups.map(_.label)
    assert(build.exists(_.startsWith("localCheckpoint at Relational.scala")), build)
    val action = r.action.get.groups
    assert(action.map(_.jobs).sum > 0 && action.forall(_.tasks > 0), action)
    assert(action.forall(_.label.startsWith("save at Profile.scala")), action)
    // the printed line carries the same run
    val line = new ObjectMapper().readTree(Profile.toJson(r))
    assert(line.get("op").asText == "q46_rfm_segment")
    assert(line.get("build").get("groups").asScala.map(_.get("label").asText).toSeq == build)
    assert(line.get("exchanges").asInt == r.exchanges.get)
    assert(line.get("action").get("groups").get(0).has("shuffle_read_bytes"))
  }

  test("tx_char_diversity: the action's plan keeps the kernel a count() prunes") {
    val r = profiled("tx_char_diversity")
    assert(r.error.isEmpty, r.error)
    assert(r.plan.exists(_.contains("array_sort")), r.plan)
    val counted = SparkEntry.queries("tx_char_diversity")(spark, sfDir).groupBy().count()
    assert(!counted.queryExecution.executedPlan.toString.contains("array_sort"))
  }

  test("statement_batch_probe: the Stages.all labels appear as groups") {
    val r = profiled(Profile.statementProbe)
    assert(r.error.isEmpty, r.error)
    assert(r.action.isEmpty)
    val labels = r.build.groups.map(_.label).toSet
    val stages = Seq("dedup index", "ann index", "manifest write")
      .map(s => s"statement batch: $s (overlapped)")
    assert(stages.forall(labels), labels)
  }

  test("println only in the mains") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val mains = Seq("Bench", "Verify", "Profile").map(m => s"graft/$m.scala")
    val walk = java.nio.file.Files.walk(root)
    val hits = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !mains.exists(p.endsWith(_)))
      .flatMap { p =>
        val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
        try src.getLines().zipWithIndex
          .collect { case (l, i) if l.contains("println") => s"$p:${i + 1}: ${l.trim}" }.toList
        finally src.close()
      }.toList
    finally walk.close()
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
