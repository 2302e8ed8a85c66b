package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's env → conf resolution, and the tier-1 session it
  * builds. */
class SessionSpec extends AnyFunSuite {
  import Session.{Aqe, Cpus, MaxPartitionBytes, ShufflePartitions}

  private val Split = "spark.sql.files.maxPartitionBytes"
  private val Adaptive = "spark.sql.adaptive.enabled"

  test("defaults: min(32, nproc) cores, partitions = cores, no AQE or split key") {
    for (nproc <- Seq(1, 4, 32, 96)) {
      val c = Session.resolve(Map.empty, nproc)
      val cores = math.min(32, nproc)
      assert(c("spark.master") == s"local[$cores]")
      assert(c("spark.sql.shuffle.partitions") == cores.toString)
      assert(c("spark.sql.session.timeZone") == "UTC")
      assert(c("spark.ui.enabled") == "false")
      // an unset knob must pin nothing, so a -Dspark.* property (the
      // invariance sweep's small-splits mode) still takes effect
      assert(!c.contains(Adaptive))
      assert(!c.contains(Split))
    }
    val here = Session.resolve(Map.empty)
    assert(here("spark.master") ==
      s"local[${math.min(32, Runtime.getRuntime.availableProcessors)}]")
  }

  test("each knob overrides on its own") {
    val cpus = Session.resolve(Map(Cpus -> "48"), nproc = 4)
    assert(cpus("spark.master") == "local[48]")
    assert(cpus("spark.sql.shuffle.partitions") == "48")

    val parts = Session.resolve(Map(ShufflePartitions -> "200"), nproc = 8)
    assert(parts("spark.master") == "local[8]")
    assert(parts("spark.sql.shuffle.partitions") == "200")

    assert(Session.resolve(Map(Aqe -> "1"), 8)(Adaptive) == "true")
    assert(Session.resolve(Map(Aqe -> "0"), 8)(Adaptive) == "false")

    val split = Session.resolve(Map(MaxPartitionBytes -> "4m"), nproc = 8)
    assert(split(Split) == "4m")
    assert(split("spark.master") == "local[8]")
    assert(!split.contains(Adaptive))
  }

  test("malformed knobs fail with an error naming the knob") {
    for ((knob, v) <- Seq(Aqe -> "true", Aqe -> "", Cpus -> "0", Cpus -> "abc",
        Cpus -> "-2", ShufflePartitions -> "0", ShufflePartitions -> "x",
        MaxPartitionBytes -> "lots", MaxPartitionBytes -> "0")) {
      val e = intercept[IllegalArgumentException](Session.resolve(Map(knob -> v), 8))
      assert(e.getMessage.contains(knob), e.getMessage)
    }
  }

  test("Bench reps and Verify's fingerprint sample modulus reject bad values by knob name") {
    assert(Bench.reps(Map.empty) == 3)
    assert(Bench.reps(Map(Bench.Reps -> "5")) == 5)
    assert(Verify.sampleMod(Map.empty) == 1L)
    assert(Verify.sampleMod(Map(Verify.FpSampleMod -> "64")) == 64L)
    val parsers = Seq[(String, Map[String, String] => Any)](
      Bench.Reps -> Bench.reps, Verify.FpSampleMod -> Verify.sampleMod)
    for ((knob, parse) <- parsers; v <- Seq("0", "-3", "abc", "")) {
      val e = intercept[IllegalArgumentException](parse(Map(knob -> v)))
      assert(!e.isInstanceOf[NumberFormatException], e)
      assert(e.getMessage.contains(knob), e.getMessage)
    }
  }

  test("TestSpark runs local[4], 4 shuffle partitions, UTC, UI off") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(Session.posture(spark).startsWith("[session] master=local[4] "))
  }
}
