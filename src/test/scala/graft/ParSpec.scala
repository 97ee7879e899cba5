package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Par

class ParSpec extends AnyFunSuite {

  test("mapOrdered returns results in input order") {
    assert(Par.mapOrdered(1 to 8)(i => { Thread.sleep((8 - i) * 5L); i * i }) ==
      (1 to 8).map(i => i * i))
  }

  test("mapOrdered rethrows the first failure and leaves no pool thread running") {
    val siblings = 3
    val started = new CountDownLatch(siblings)
    val threads = new ConcurrentLinkedQueue[Thread]()
    val err = intercept[IllegalStateException] {
      Par.mapOrdered(0 to siblings, width = siblings + 1) { i =>
        threads.add(Thread.currentThread())
        if (i == 0) {
          started.await(30, TimeUnit.SECONDS)
          throw new IllegalStateException("item 0 failed")
        }
        started.countDown()
        Thread.sleep(60000) // a long sibling action: must be interrupted
        i
      }
    }
    assert(err.getMessage == "item 0 failed")
    val pool = threads.asScala.toSeq
    assert(pool.size == siblings + 1)
    pool.foreach(_.join(5000))
    assert(pool.forall(!_.isAlive), "a pool thread outlived the failed mapOrdered")
  }

  test("mapOrdered cancels a sibling's running Spark job when an item fails") {
    val sc = GraftSession.local("4").sparkContext
    intercept[IllegalStateException] {
      Par.mapOrdered(Seq(0, 1)) { i =>
        if (i == 0) {
          ParSpec.taskRunning.await(30, TimeUnit.SECONDS)
          throw new IllegalStateException("item 0 failed")
        }
        // one task that sleeps until killed, or a minute at most
        sc.parallelize(Seq(1), 1).map { x =>
          ParSpec.taskRunning.countDown()
          val until = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
          while (!TaskContext.get().isInterrupted() && System.nanoTime() < until)
            Thread.sleep(50)
          x
        }.count()
      }
    }
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
    while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds().isEmpty,
      "a sibling's Spark job outlived the failed mapOrdered")
  }
}

object ParSpec {
  /** Counted down by the sibling's task (local mode: the same JVM). */
  val taskRunning = new CountDownLatch(1)
}
