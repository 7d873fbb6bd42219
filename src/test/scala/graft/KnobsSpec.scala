package graft

import graft.core.Knobs

class KnobsSpec extends SparkSpec {

  test("every numeric knob rejects a non-number and a non-positive value, " +
      "naming its key") {
    val readers: Seq[(String, () => Any)] =
      Knobs.ints.map(k => k -> (() => Knobs.positiveInt(spark, k))) ++
        Knobs.longs.map(k => k -> (() => Knobs.positiveLong(spark, k)))
    for ((key, read) <- readers; raw <- Seq("many", "0")) {
      spark.conf.set(key, raw)
      try {
        val e = intercept[IllegalArgumentException](read())
        assert(e.getMessage.contains(key), e.getMessage)
      } finally spark.conf.unset(key)
    }
  }
}
