package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.graft.ListenerBridge

/** Profile's JSON lines stay parseable whatever the query name, callsite
  * or job description holds. */
class ProfileSpec extends SparkSpec {

  test("a quote and a backslash in names and descriptions still emit valid JSON lines") {
    val nasty = "say \"hi\" \\ back"
    val sc = spark.sparkContext
    val agg = new Profile.Agg
    sc.addSparkListener(agg)
    try {
      sc.setJobDescription(s"desc $nasty")
      sc.setCallSite(s"site $nasty")
      spark.range(100).repartition(2).write.format("noop").mode("overwrite").save()
    } finally {
      sc.clearCallSite()
      sc.setJobDescription(null)
      ListenerBridge.waitUntilEmpty(sc)
      sc.removeSparkListener(agg)
    }
    val lines = agg.json(s"q $nasty", 1.0) +: (agg.callsiteLines ++ agg.stageLines)
    val mapper = new ObjectMapper()
    val parsed = lines.map(l => withClue(l)(mapper.readTree(l)))
    assert(parsed.head.get("query").asText == s"q $nasty")
    assert(parsed.exists(n => n.has("callsite") && n.get("callsite").asText.contains(nasty)))
    assert(parsed.exists(n => n.has("stage") && n.get("stage").asText.contains(s"desc $nasty")))
  }
}
