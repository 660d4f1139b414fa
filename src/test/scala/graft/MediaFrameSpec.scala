package graft

import org.scalatest.matchers.should.Matchers

/** The decode-sizing knob of the synthesized media frames (q150–q155). */
class MediaFrameSpec extends SparkTestBase with Matchers {

  private val Key = "spark.graft.media.decodeTargetBytes"

  it("reads spark.graft.media.decodeTargetBytes, 4 MiB by default") {
    val s = spark.newSession()
    SparkEntry.decodeTargetBytes(s) shouldBe (4L << 20)
    s.conf.set(Key, " 1048576 ")
    SparkEntry.decodeTargetBytes(s) shouldBe (1L << 20)
  }

  it("fails fast, naming the key, on a value that is not a positive number") {
    Seq("0", "-4096", "4MiB", "").foreach { bad =>
      val s = spark.newSession()
      s.conf.set(Key, bad)
      withClue(s"value '$bad': ") {
        // through the query path: the knob is checked before the frame is
        // synthesized, so no input table is read
        val e = intercept[IllegalArgumentException](
          SparkEntry.queries("q150_real_image_phash")(s, tmpDir + "/no-such-dir"))
        e.getMessage should include(Key)
        e.getMessage should include(s"'$bad'")
      }
    }
  }
}
