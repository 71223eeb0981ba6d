package graft.sources.fits

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.fits.core.HCompress

/** Throwaway-style micro probe (kept: it guards against codec decode
  * throughput regressions at the unit level, independent of the Spark
  * read path). Prints decode MB/s for the bench probe's tile shape. */
class HCompressPerfProbe extends AnyFunSuite {
  test("standalone decode throughput on the bench tile shape") {
    val w = 4096
    val h = 16
    val pix = Array.tabulate(h * w) { i =>
      val r = i / w; val c = i % w
      (r * 3 + c) % 1000 + (r * c) % 7
    }
    val comp = HCompress.encode(pix, h, w, 0)
    // warm
    (1 to 50).foreach(_ => HCompress.decode(comp))
    val reps = 200
    val t0 = System.nanoTime()
    var sink = 0
    (1 to reps).foreach { _ => sink ^= HCompress.decode(comp).pixels(0) }
    val sec = (System.nanoTime() - t0) / 1e9
    val mbs = reps.toLong * h * w * 2.0 / (1 << 20) / sec
    info(f"decode: $mbs%.0f MB/s (int16 payload), ratio ${comp.length.toDouble / (h * w * 2)}%.3f, sink=$sink")
    assert(mbs > 20, f"decode collapsed to $mbs%.0f MB/s")
    // warm the encoder like the decoder, so the figure is codec speed
    // rather than JIT warm-up
    (1 to 50).foreach(_ => HCompress.encode(pix, h, w, 0))
    val t1 = System.nanoTime()
    var esink = 0
    (1 to reps).foreach { _ => esink ^= HCompress.encode(pix, h, w, 0).length }
    val esec = (System.nanoTime() - t1) / 1e9
    val embs = reps.toLong * h * w * 2.0 / (1 << 20) / esec
    info(f"encode: $embs%.0f MB/s (int16 payload), sink=$esink")
    assert(embs > 20, f"encode collapsed to $embs%.0f MB/s")
  }
}
