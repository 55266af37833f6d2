package graft.tools

/** Plan-audit diagnostic: print the formatted physical plan of named
  * inventory queries (all of them with no args) against a testdata dir —
  * the `.explain("formatted")` loop the scale reviews run, as a main so a
  * plan regression (a lost broadcast, a surprise BNLJ, a filter that
  * stopped pushing down) is one command to spot:
  *
  *   sbt "runMain graft.tools.ExplainQuery q63_gap_fill q65_embed_quantize"
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else graft.queries.Queries.all.map(_.name)
    names.foreach { q =>
      println(s"===== $q =====")
      graft.queries.Queries.byName(q)(spark, sfDir).explain("formatted")
      graft.CacheRegistry.releaseAll()
    }
    spark.stop()
  }
}
