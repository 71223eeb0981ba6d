package graft.sources.fits.core

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Byte-exact pins of the RICE_1 and HCOMPRESS_1 encoders: SHA-256 of
  * their output on fixed seeded inputs, edge-size tiles included.
  * Written files must stay byte-identical across encoder rewrites, and
  * round-trip tests alone would accept any decodable stream. (GZIP is
  * not pinned: its bytes are the JDK zlib's.) */
class EncoderGoldenSpec extends AnyFunSuite {

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  /** Smooth signal + noise, with a few large jumps that force raw
    * (escape) blocks, as `nPix` big-endian `bytepix`-byte pixels. */
  private def riceTile(nPix: Int, bytepix: Int, seed: Long): Array[Byte] = {
    val rnd = new java.util.Random(seed)
    val range = 1L << (8 * bytepix)
    val out = new Array[Byte](nPix * bytepix)
    (0 until nPix).foreach { i =>
      val base = (math.sin(i * 0.05) * range / 8).toLong + range / 2
      val v =
        if (i % 97 == 13) rnd.nextLong()
        else base + rnd.nextInt(1 + (range / 64).toInt.max(1).min(4096))
      (0 until bytepix).foreach { b =>
        out(i * bytepix + b) = (v >> (8 * (bytepix - 1 - b))).toByte
      }
    }
    out
  }

  private def image(nx: Int, ny: Int, seed: Long): Array[Int] = {
    val rnd = new java.util.Random(seed)
    Array.tabulate(nx * ny) { i =>
      val (r, c) = (i / ny, i % ny)
      1000 + r * 13 - c * 7 + rnd.nextInt(50) + (if (i % 101 == 5) 30000 else 0)
    }
  }

  private val riceGolden = Seq(
    (1, 1000, "d8ba8457ccd0766a55dd2194379f7b34bdbe92eb6277bc8ebe47188f25e822ae"),
    (1, 7, "f37faf34c3d67282a34f004eecd318552dca971e8848f7533a4199385588821c"),
    (2, 1000, "4207bd7589dfbaf819c6ec09fdd6988d9970f2435d8cd57cb55ac5a28f63221a"),
    (2, 7, "5c48ef07ba2b02edc8198750832dc13af9eb46354d519ab889a11b76f6a0fefe"),
    (4, 1000, "ad5ce2eab6d00e0f5f9f35688d7107796d3200a550781b942e767ce095585e58"),
    (4, 7, "75dc3119112d3d571debe3d8fa48306ea4870ac8d3b59dbe51dda5d295cd88cf"))

  test("Rice.encode output is pinned for bytepix 1, 2 and 4") {
    val got = riceGolden.map { case (bytepix, nPix, _) =>
      val tile = riceTile(nPix, bytepix, seed = 1000L * bytepix + nPix)
      val comp = Rice.encode(tile, bytepix)
      assert(Rice.decode(comp, nPix, bytepix).sameElements(tile))
      (bytepix, nPix, sha256(comp))
    }
    assert(got == riceGolden)
  }

  private val hcompGolden = Seq(
    (37, 23, 0, "4a2a98c08b4268c367f6c176e7e7ebc5bdddc92e744468a50d61d2b84a7ca803"),
    (37, 23, 4, "a487c0ba12ba4206a776ea607422731cd05813667cdfff53698d2ab2e3583bff"),
    (1, 5, 0, "bcc87d277dd132bccbd35a358cc9620c9d392409705eabfad36b820b54e7b4ef"))

  test("HCompress.encode output is pinned for scale 0 and scale 4") {
    val got = hcompGolden.map { case (nx, ny, scale, _) =>
      val pix = image(nx, ny, seed = nx * 100L + ny)
      val comp = HCompress.encode(pix, nx, ny, scale)
      if (scale == 0) assert(HCompress.decode(comp).pixels.sameElements(pix))
      (nx, ny, scale, sha256(comp))
    }
    assert(got == hcompGolden)
  }
}
