package graft

import graft.tools.Probe

import scala.collection.mutable.ArrayBuffer

/** Smoke test of the probe tool's sweep and explain modes, so the tool
  * cannot rot unnoticed.
  */
class ProbeSpec extends SparkSpec {

  private def probe(args: String*): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    Probe.run(spark, args, out += _)
    out.toSeq
  }

  test("probe sweep: one line per named query, none an ERROR") {
    val names = Seq("q1_agg", "dedup_clusters", "d2_rakam_ingest")
    val lines = probe(Seq("sweep", "/root/testdata/sf0.001") ++ names: _*)
    assert(lines.size == 1 + names.size, lines.mkString("\n"))
    assert(lines.head.startsWith("query") && lines.head.contains("lambdas"))
    names.zip(lines.tail).foreach { case (n, l) =>
      assert(l.startsWith(n + " "), l)
      assert(!l.contains("ERROR"), l)
      // 8 operator counts + the lambda count, then the HOF list
      assert(l.split("\\s+").length == 11, l)
    }
  }

  test("probe explain: prints the named query's physical plan") {
    val text = probe("explain", "q1_agg").mkString("\n")
    assert(text.contains("========== q1_agg =========="), text)
    assert(text.contains("Physical Plan") && text.contains("Scan parquet"), text)
    assert(!text.contains("explain failed"), text)
  }

  test("probe rejects an unknown mode or query") {
    assertThrows[IllegalArgumentException](probe("bogus"))
    assertThrows[IllegalArgumentException](probe("explain", "no_such_query"))
  }
}
