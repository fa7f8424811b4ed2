package graft.analytics

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("an interrupt of the caller waits for running siblings, then rethrows with the flag set") {
    val started = new CountDownLatch(1)
    val slowDone = new AtomicBoolean(false)
    @volatile var thrown: Option[Throwable] = None
    @volatile var slowDoneAtReturn = false
    @volatile var flagAtReturn = false
    val caller = new Thread(() => {
      try Par.run(
        () => { started.countDown(); Thread.sleep(1500); slowDone.set(true) },
        () => ())
      catch { case t: Throwable => thrown = Some(t) }
      slowDoneAtReturn = slowDone.get()
      flagAtReturn = Thread.currentThread().isInterrupted
    })
    caller.start()
    started.await()
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive)
    // returning early would release the caller's IndexLock while the
    // sibling store write is still running
    assert(slowDoneAtReturn, "run returned before the running sibling finished")
    assert(thrown.exists(_.isInstanceOf[InterruptedException]), thrown)
    assert(flagAtReturn, "the interrupt flag must be restored")
  }

  test("a task failure is rethrown after every sibling has finished") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Par.run(
      () => throw new IllegalStateException("boom"),
      () => { Thread.sleep(300); slowDone.set(true) }))
    assert(e.getMessage == "boom")
    assert(slowDone.get())
  }
}
