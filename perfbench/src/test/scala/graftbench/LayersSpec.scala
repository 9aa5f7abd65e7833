package graftbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {

  test("every registered query carries exactly one layer tag") {
    val registered = graft.SparkEntry.queries.keySet
    assert(registered.size == 221)
    assert((registered -- Layers.table.keySet).isEmpty)
    assert((Layers.table.keySet -- registered).isEmpty)
  }

  test("the layers are this repo's batch modules") {
    assert(Layers.names.toSet == Set(
      "ext.TextDedup", "ext.Similarity", "ext.Pq", "ext.Rung",
      "ext.TextAnalysis", "ext.Curation", "ext.Layout", "ext.Forget",
      "ext.Classifier", "ext.Multimodal", "ops.Aggregate", "ops.Analytics",
      "ops.AsOf", "ops.RangeJoin", "ops.SkewJoin", "ops.Dedup", "ops.Serve",
      "SparkEntry.sql"))
  }

  test("an unknown query name fails fast") {
    val e = intercept[NoSuchElementException](Layers.of("no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
  }

  test("the timed panel runs one query of every layer, each with a digest") {
    assert(Registry.Timed.map(Layers.of).sorted == Layers.names.sorted)
    val digests = Registry.readDigests("digests.tsv")
    assert(digests.keySet == graft.SparkEntry.queries.keySet)
  }

  test("metric names fit the benchmark file's rules") {
    val names = Main.EndToEnd.map(_._1) ++ Main.PerLayer
    assert(names.distinct.size == names.size)
    assert(Main.PerLayer.size <= 128)
    names.foreach(n => assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), n))
  }
}

class BenchmarkFileSpec extends AnyFunSuite {

  test("BENCHMARK.json lists exactly the metrics a run reports") {
    val src = scala.io.Source.fromFile("../BENCHMARK.json", "UTF-8")
    val text = try src.mkString finally src.close()
    def names(section: String): Seq[String] = {
      val from = text.indexOf(s""""$section"""")
      val to = text.indexOf("]", from)
      """"name":\s*"([^"]+)"""".r.findAllMatchIn(text.substring(from, to))
        .map(_.group(1)).toSeq
    }
    assert(names("per_layer") == Main.PerLayer)
    val units = """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
    Main.PerLayer.foreach(n => assert(units(n) == Main.unitOf(n), n))
    Main.EndToEnd.foreach { case (n, u) => assert(units(n) == u, n) }
    assert(names("end_to_end").sorted == Main.EndToEnd.map(_._1).sorted)
    names("workloads").foreach(w => assert(Main.Workloads.contains(w)))
  }
}
