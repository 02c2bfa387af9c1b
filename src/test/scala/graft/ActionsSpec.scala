package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Actions

class ActionsSpec extends AnyFunSuite {

  test("an interrupted caller drains its running tasks before inParallel returns") {
    val failed = new CountDownLatch(1)
    val blocked = new CountDownLatch(1)
    val stopped = new AtomicBoolean(false)
    val boom = new IllegalStateException("sibling failed")
    var thrown: Throwable = null
    var stoppedAtReturn = false
    val caller = new Thread(() =>
      try Actions.inParallel(
        () => { failed.countDown(); throw boom },
        () => {
          blocked.countDown()
          try Thread.sleep(60000)
          finally { Thread.sleep(300); stopped.set(true) } // slow cleanup
        })
      catch { case t: Throwable =>
        stoppedAtReturn = stopped.get
        thrown = t
      })
    caller.start()
    assert(failed.await(30, TimeUnit.SECONDS) && blocked.await(30, TimeUnit.SECONDS))
    Thread.sleep(200) // let the caller record the sibling's failure
    caller.interrupt()
    caller.join(30000)
    assert(thrown.isInstanceOf[InterruptedException], String.valueOf(thrown))
    assert(stoppedAtReturn, "a task was still running when inParallel returned")
    assert(thrown.getSuppressed.toSeq == Seq(boom))
  }
}
