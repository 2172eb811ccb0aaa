package graft

import org.scalatest.funsuite.AnyFunSuite

class StallSamplerSpec extends AnyFunSuite {

  test("the stall sampler profiles other threads, never its own") {
    @volatile var spin = true
    var sink = 0L
    val worker = new Thread(() => while (spin) sink += System.nanoTime() % 7)
    worker.setDaemon(true)
    worker.start()
    val sampler = new Bench.StallSampler
    sampler.start()
    Thread.sleep(1600) // three or four samples
    val profile = sampler.finish()
    spin = false
    worker.join()
    assert(profile.exists(_._1.startsWith("graft.StallSamplerSpec")),
      profile.mkString(", "))
    assert(!profile.exists(_._1.startsWith("graft.Bench$StallSampler")),
      profile.mkString(", "))
  }
}
