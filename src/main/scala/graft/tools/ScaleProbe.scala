package graft.tools

import org.apache.spark.sql.SparkSession

/** Time-vs-scale probe for the heaviest pipeline operators: runs a
  * comma-listed subset of `SparkEntry.queries` against one scale dir and
  * prints a single JSON line with per-query seconds PLUS the operators'
  * bounded-work telemetry (oversized LSH buckets, SemDeDup pair caps) —
  * the point is proving the curves stay ≈linear at 10×/100× sf0.1
  * WITHOUT a silent cap absorbing the work. Unlike `graft.Bench` it
  * prepares only the tables the probed queries touch, so a 100× probe
  * pays for the three queries, not the whole battery's prep.
  *
  *   runMain graft.tools.ScaleProbe <sfDir> <q1,q2,...> [out.json]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val line = Kit.withSession("scale-probe")(probe(_, sfDir, names))
    println(line)
    args.lift(2).foreach(Kit.save(_, Seq(line)))
  }

  private def probe(spark: SparkSession, sfDir: String, names: Seq[String]): String = {
    // warm only the probed queries' source caches (first run builds the
    // btr round-trip cache; the timed run measures the operator)
    names.foreach { n =>
      try Kit.drain(graft.SparkEntry.queries(n)(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[probe] warm $n: ${e.getMessage}") }
    }
    // a failing or misnamed query records a -1 sentinel instead of
    // aborting the probe — the other queries' measurements still emit
    val times = names.map { n =>
      n -> (try Kit.secs(Kit.drain(graft.SparkEntry.queries(n)(spark, sfDir))) catch {
        case e: Throwable =>
          System.err.println(s"[probe] timed $n FAILED: ${e.getMessage}")
          -1.0
      })
    }
    val tele = {
      val ob = graft.functions.TextOps.lastOversizedBuckets.get(spark)
      val sd = graft.functions.SimilarityOps.lastOversizedClusters.get(spark)
      val obS = if (ob == null) "null" else s"""{"buckets":${ob._1},"members":${ob._2}}"""
      val sdS =
        if (sd == null) "null"
        else s"""{"clusters":${sd._1},"members":${sd._2}}"""
      s""""oversized_buckets":$obS,"oversized_clusters":$sdS"""
    }
    val qs = times.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    s"""{"sf":"$sfDir","queries":$qs,$tele}"""
  }
}
