package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.Bridge
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}
import graft.operators.{Dedup, Edges, Rounds}

/** The round boundary of every checkpointed loop ([[Rounds]]): the bound
  * throws, superseded states are freed, kept states are not, and each
  * round leaves a census entry.
  */
class RoundsSpec extends SparkTestBase with TimeLimits {
  implicit val signaler: Signaler = ThreadSignaler

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The checkpoint RDDs a plan reads. */
  private def checkpointIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  releasedTest("a loop that never reaches a fixed point throws at its bound and frees its states") {
    val before = persistedIds
    var steps = 0
    val e = intercept[IllegalStateException] {
      failAfter(Span(120, Seconds)) {
        Rounds("neverStable", 3) { rs =>
          var s = rs.checkpoint(spark.range(4).toDF("id"))
          rs.fixpoint { _ =>
            steps += 1
            val next = rs.checkpoint(s, changed = count(lit(1)))
            rs.free(s)
            s = next
            rs.changed(next) > 0L
          }
          rs.keep(s)
        }
      }
    }
    assert(e.getMessage.contains("neverStable") && e.getMessage.contains("3 rounds"),
      e.getMessage)
    assert(steps == 3, s"ran $steps rounds")
    assert(persistedIds == before, "a thrown loop must free every state")
  }

  releasedTest("CC on the hub fixture leaves only the returned labels' checkpoint") {
    val s = spark
    import s.implicits._
    val star = (1L to 2000L).map(x => (0L, x))
    val chain = (0 until 50).map(i => (2001L + i, 2002L + i))
    val pairs = (star ++ chain :+ (1L, 2001L)).toDF("id_a", "id_b")
    val census = new Rounds.Census(spark)
    try {
      val before = persistedIds
      val labels = Dedup.connectedComponents(pairs)
      val left = persistedIds -- before
      assert(left.size == 1 && left == checkpointIds(labels),
        s"left persisted: $left, labels read ${checkpointIds(labels)}")
      assert(labels.as[(Long, Long)].collect().forall(_._2 == 0L))
      // the per-round census, pinned to what the round profiler it
      // replaces measured on this fixture: five rounds
      Bridge.waitListenerBusEmpty(spark)
      val cc = census.take().filter(_.name.startsWith("connectedComponents:"))
      assert(cc.map(_.name) == Seq("connectedComponents:0:edges", "connectedComponents:0") ++
        (1 to 5).map(r => s"connectedComponents:$r"), cc.mkString("\n"))
      assert(cc.flatMap(_.changed) == Seq(51L, 48L, 39L, 12L, 0L), cc.mkString("\n"))
    } finally spark.listenerManager.unregister(census)
  }

  releasedTest("k-truss rounds that alias the fixpoint checkpoint all stay readable") {
    val s = spark
    import s.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val before = persistedIds
    // k = 4 cascades 5 → 1 → 0 and is stable from round 3 on; k = 3 is
    // stable from round 1, so rounds 1-3 are one checkpoint
    val cascade = Edges.ktruss(e, k = 4, rounds = 4)
    val stable = Edges.ktruss(e, k = 3, rounds = 3)
    assert(cascade(3) eq cascade(4))
    assert((stable(1) eq stable(2)) && (stable(2) eq stable(3)))
    // each round's oriented-edge cache is freed once its checkpoint is
    // material: what stays persisted is exactly the returned rounds
    assert((cascade ++ stable).flatMap(checkpointIds).toSet == persistedIds -- before,
      s"left persisted: ${persistedIds -- before}")
    assert(cascade.map(_.collect().length) == Seq(5, 1, 0, 0, 0))
    assert(stable.map(_.collect().length) == Seq(5, 5, 5, 5))
  }

  /** The census entries of `loop` while `body` runs. */
  private def censusOf(loop: String)(body: => Unit): Seq[String] = {
    val census = new Rounds.Census(spark)
    try {
      body
      Bridge.waitListenerBusEmpty(spark)
      census.take().map(_.name).filter(_.startsWith(s"$loop:"))
    } finally spark.listenerManager.unregister(census)
  }

  releasedTest("matching and MIS checkpoint no survivors after their last round") {
    val s = spark
    import s.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val matching = censusOf("greedyMatching") {
      Edges.greedyMatching(path, rounds = 2).foreach(_.collect())
    }
    assert(matching == Seq("greedyMatching:0", "greedyMatching:1:matched", "greedyMatching:1",
      "greedyMatching:2:matched"), matching.mkString("\n"))
    val mis = censusOf("maximalIndependentSet") {
      Edges.maximalIndependentSet(path, rounds = 2).foreach(_.collect())
    }
    assert(mis == Seq("0:edges", "0:nodes", "1:mis", "1:nodes", "1:edges", "2:mis")
      .map("maximalIndependentSet:" + _), mis.mkString("\n"))
  }

  releasedTest("q328 checkpoints each step's winner and coverage, never the selected union") {
    val fl = censusOf("facilityLocationSelect") {
      SparkEntry.queries("q328_coreset_select")(spark, sfDir).queryExecution.toRdd.count()
    }
    assert(fl == (Seq("0:scores", "0:cov") ++ (1 to 4).flatMap(r => Seq(s"$r:win", s"$r:cov")))
      .map("facilityLocationSelect:" + _), fl.mkString("\n"))
  }

  releasedTest("the census names one entry per CC round of q38, ending at n_changed 0") {
    val census = new Rounds.Census(spark)
    try {
      SparkEntry.queries("q38_dedup_apply")(spark, sfDir).queryExecution.toRdd.count()
      Bridge.waitListenerBusEmpty(spark)
      val rounds = census.take()
        .filter(e => e.name.startsWith("connectedComponents:") && e.changed.isDefined)
      // measured on this fixture before the census existed (the round
      // profiler it replaces): the near-dup graph settles in one round
      assert(rounds.map(_.name) == Seq("connectedComponents:1"), rounds.mkString("\n"))
      assert(rounds.flatMap(_.changed) == Seq(0L))
      assert(rounds.forall(r => r.rows > 0 && r.ms > 0))
    } finally spark.listenerManager.unregister(census)
  }
}
