package graft.sparql

import graft.SparkSuite
import graft.ops.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.scalatest.funsuite.AnyFunSuite

/** SPARQL `p+` closure: semi-naive rounds. Each round hops only the
  * pairs the previous round found new, so its plan holds exactly one
  * join however deep the walk. */
class TransitiveSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  // a chain 1→…→6 with a branch 3→7 and a cycle 6→4
  private val pairs = Seq("1" -> "2", "2" -> "3", "3" -> "4", "4" -> "5",
    "5" -> "6", "3" -> "7", "6" -> "4")
  private def edges: DataFrame = {
    import spark.implicits._
    pairs.toDF("from", "to")
  }

  /** Driver-side closure of `pairs` (from `seed` when given). */
  private def closure(seed: Option[String]): Set[(String, String)] = {
    val out = pairs.groupMap(_._1)(_._2)
    def reach(a: String): Set[String] = {
      var seen = Set.empty[String]
      var todo = out.getOrElse(a, Nil).toList
      while (todo.nonEmpty) {
        val b = todo.head; todo = todo.tail
        if (!seen(b)) { seen += b; todo ++= out.getOrElse(b, Nil) }
      }
      seen
    }
    pairs.map(_._1).distinct.filter(a => seed.forall(_ == a))
      .flatMap(a => reach(a).map(a -> _)).toSet
  }

  private def run(seed: Option[String]): (Set[(String, String)], Seq[Int]) = {
    val joins = Seq.newBuilder[Int]
    try {
      val got = Sparql.transitive(edges, seed, next => joins +=
          next.queryExecution.optimizedPlan.collect { case j: Join => j }.size)
        .collect().map(r => r.getString(0) -> r.getString(1)).toSet
      (got, joins.result())
    } finally Caches.releaseCaches()
  }

  test("every round of the closure plans exactly one join") {
    Seq(None, Some("1")).foreach { seed =>
      val (got, joins) = run(seed)
      assert(got == closure(seed), s"seed $seed")
      // the walk from 1 is 5 hops deep, then one round finds nothing new
      assert(joins.length >= 5, s"seed $seed: $joins")
      assert(joins.forall(_ == 1), s"seed $seed: joins per round $joins")
    }
  }

  test("a closure deeper than pathDepth fails loud") {
    val key = "spark.graft.sparql.pathDepth"
    spark.conf.set(key, "3")
    try {
      val e = intercept[IllegalArgumentException](run(None))
      assert(e.getMessage.contains("p+ closure still growing after 3 rounds"))
    } finally spark.conf.unset(key)
  }
}
