package graft.tools

import graft.{SparkEntry, SparkSpec}

class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("run reports each query's row count and a positive job count") {
    val qs = Seq("q01_agg", "q_graph_wcc")
    val lines = Seq.newBuilder[String]
    val rows = Profile.run(spark, qs, sf, passes = 1, out = lines += _)
    assert(rows.map(r => (r.query, r.pass, r.copies)) == qs.map((_, 1, 1)))
    rows.foreach { r =>
      assert(r.full.ok && r.count.ok, r)
      assert(r.count.rows == SparkEntry.queries(r.query)(spark, sf).count(), r)
      assert(r.count.rows > 0 && r.full.jobs > 0, r)
      assert(r.full.stranded == 0 && r.count.stranded == -1, r)
      assert(r.full.buildSeconds >= 0 && r.full.buildSeconds <= r.full.seconds, r)
    }
    val profiles = lines.result().filter(_.startsWith("PROFILE "))
    assert(profiles.size == 2)
    assert(profiles.forall(_.matches(""".* full=[0-9.]+s build=[0-9.]+s count=.*""")), profiles)
  }

  test("--explain prints the physical plan") {
    val lines = Seq.newBuilder[String]
    assert(Profile.run(spark, Seq("--explain", "q01_agg"), sf, passes = 1, out = lines += _).isEmpty)
    assert(lines.result().mkString("\n").contains("Physical Plan"))
  }

  test("unknown flags and queries are refused") {
    intercept[IllegalArgumentException](Profile.run(spark, Seq("--bogus", "q01_agg"), sf, 1))
    intercept[IllegalArgumentException](Profile.run(spark, Seq("q_no_such_query"), sf, 1))
  }
}
