package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.GraftSqlShim

/** `GraftSqlShim.sessionWithConfs` creates one child per parent and
  * effective conf and hands the same child back on every later call, so the
  * classes its plans generate compile once; a change to the parent's conf
  * makes a new child, and the parent's conf is never touched.
  */
class SessionWithConfsSpec extends SparkSpec {

  private val aqeOff = "spark.sql.adaptive.enabled" -> "false"

  test("the same parent and overrides return the same child; other overrides another") {
    val before = spark.conf.getAll
    val a = GraftSqlShim.sessionWithConfs(spark, aqeOff)
    val b = GraftSqlShim.sessionWithConfs(spark, aqeOff)
    (a eq b) shouldBe true
    (a eq spark) shouldBe false
    a.conf.get("spark.sql.adaptive.enabled") shouldBe "false"

    val wide = GraftSqlShim.sessionWithConfs(spark, aqeOff, "spark.sql.shuffle.partitions" -> "3")
    (wide eq a) shouldBe false
    wide.conf.get("spark.sql.shuffle.partitions") shouldBe "3"
    a.conf.get("spark.sql.shuffle.partitions") shouldBe spark.conf.get("spark.sql.shuffle.partitions")
    // an override equal to the parent's own value is the same effective conf
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    (GraftSqlShim.sessionWithConfs(spark, aqeOff, "spark.sql.session.timeZone" -> "UTC") eq a) shouldBe
      true

    // concurrent callers with equal overrides share one child
    val shared = Seq.fill(4)(Future(GraftSqlShim.sessionWithConfs(spark, aqeOff,
      "spark.sql.shuffle.partitions" -> "5"))).map(Await.result(_, 1.minute))
    shared.forall(_ eq shared.head) shouldBe true

    spark.conf.getAll shouldBe before
  }

  test("a change to the parent's conf makes a new child that sees it") {
    val key = "spark.sql.ansi.enabled"
    val original = spark.conf.get(key)
    val explicit = spark.conf.getAll.get(key)
    val flipped = (!original.toBoolean).toString
    val old = GraftSqlShim.sessionWithConfs(spark, aqeOff)
    try {
      spark.conf.set(key, flipped)
      val next = GraftSqlShim.sessionWithConfs(spark, aqeOff)
      (next eq old) shouldBe false
      next.conf.get(key) shouldBe flipped
      next.conf.get("spark.sql.adaptive.enabled") shouldBe "false"
      old.conf.get(key) shouldBe original
      spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    } finally explicit.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // the parent's conf is back where it was, and so is its child
    (GraftSqlShim.sessionWithConfs(spark, aqeOff) eq old) shouldBe true
  }
}
