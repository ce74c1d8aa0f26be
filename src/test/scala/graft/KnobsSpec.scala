package graft

import graft.core.Knobs
import java.nio.file.{Files, Paths}

/** The knob table ([[Knobs]]) is the engine's whole `graft.*` surface:
  * every declared key fails loud on a value it cannot use, and README
  * documents exactly the live keys.
  */
class KnobsSpec extends SparkSpec {

  test("a malformed value of every declared knob fails naming the key and the bad value") {
    assert(Knobs.all.map(_.key).distinct.size == Knobs.all.size, "a key is declared twice")
    for (k <- Knobs.all) withConf(k.key -> "bogus") {
      val msg = intercept[IllegalArgumentException](k(spark)).getMessage
      assert(msg == s"${k.key} must be ${k.expected}, got 'bogus'", msg)
    }
  }

  test("a value that parses but is out of range fails at the knob, in the same form") {
    val r = Knobs.SameLabel
    for ((k, bad) <- Seq(r.probe -> "-1", r.rescue -> "1.0", r.rescue -> "-0.1",
        r.rescueMaxFrac -> "1.5", r.rescueMaxFrac -> "NaN", r.bands -> "0x4",
        Knobs.Profile -> "prod")) withConf(k.key -> bad) {
      val msg = intercept[IllegalArgumentException](k(spark)).getMessage
      assert(msg == s"${k.key} must be ${k.expected}, got '$bad'", msg)
    }
  }

  test("a route resolves its declared families; probe bits clamp to the planes") {
    assert(Knobs.Pairs(spark) == Knobs.Banding(Knobs.Pairs, 16, 2))
    assert(Knobs.CosDedup(spark) == Knobs.Banding(Knobs.CosDedup, 8, 4))
    assert(Knobs.SameLabel(spark) == Knobs.Banding(Knobs.SameLabel, 32, 1))
    assert(Knobs.MinHash.bands(spark) == (8, 2))
    withConf("graft.sim.bands.cosdedup" -> "4X3", "graft.sim.probe.cosdedup" -> "5",
        "graft.sim.bucketcap.cosdedup" -> "64") {
      assert(Knobs.CosDedup(spark) == Knobs.Banding(Knobs.CosDedup, 4, 3, 3, 64))
    }
    assert(Knobs.SameLabel.bucketCap.isEmpty, "samelabel has no cap family")
    intercept[IllegalArgumentException](Knobs.Banding(Knobs.SameLabel, 32, 1, bucketCap = 8))
  }

  test("README documents every live key with its doc line, and no retired key as live") {
    val readme = Files.readString(Paths.get("README.md")).linesIterator.toSeq
    for (k <- Knobs.all)
      assert(readme.exists(l => l.contains(s"`${k.key}`") && l.contains(k.doc)),
        s"README has no line naming `${k.key}` with its doc line '${k.doc}'")
    val retired = ("`" + java.util.regex.Pattern.quote(Knobs.RetiredSimBucketCap) +
      "(?![.\\w])").r
    for (l <- readme if retired.findFirstIn(l).isDefined)
      assert(l.toLowerCase.contains("retired"), s"README presents a retired key as live: $l")
  }
}
