package graft

import java.nio.file.Files

import graft.sources.JsonSources

class JsonSourcesSpec extends GraftSuite {

  private def readJson(lines: String*): org.apache.spark.sql.DataFrame = {
    val dir = tempDir("graft-json")
    Files.writeString(dir.resolve("data.json"), lines.mkString("\n"))
    spark.read.json(dir.toString)
  }

  test("plant model explode chain keeps ancestor metadata per unit") {
    val df = readJson(
      """{"enterprises":[{"name":"E1","sites":[
        {"name":"S1","lines":[
          {"name":"L1","units":[{"name":"U1","unitType":"filler"},
                                 {"name":"U2","unitType":"packer"}]},
          {"name":"L2","units":[{"name":"U3","unitType":"filler"}]}]},
        {"name":"S2","lines":[
          {"name":"L3","units":[{"name":"U4","unitType":"case"}]}]}]}]}"""
        .replaceAll("\n\\s*", ""))
    val out = JsonSources.flattenPlantModel(df)
    assert(out.columns.toSeq ==
      Seq("enterprise", "site", "line", "unit", "unit_type"))
    val rows = out.collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(rows == Set(("S1", "L1", "U1"), ("S1", "L1", "U2"),
      ("S1", "L2", "U3"), ("S2", "L3", "U4")))
  }

  test("config list flattens fields.* and applies renames") {
    val df = readJson(
      """{"id":"1","fields":{"Title":"SiteA","MDCSiteName":"site-a","COTrigger":30}}""",
      """{"id":"2","fields":{"Title":"SiteB","MDCSiteName":"site-b","COTrigger":45}}""")
    val out = JsonSources.configList(df,
      Map("Title" -> "Site_Name", "MDCSiteName" -> "MDC_Site_Name",
        "COTrigger" -> "CO_Trigger_Parameter"))
    assert(out.columns.toSet ==
      Set("Site_Name", "MDC_Site_Name", "CO_Trigger_Parameter"))
    assert(byKey(out, "Site_Name", "CO_Trigger_Parameter")
      .map { case (k, v) => k -> v.toString } ==
      Map("SiteA" -> "30", "SiteB" -> "45"))
  }
}
