package graft

import graft.ops.TxIo

/** Pass-through TxIo for targeted interception in specs. */
private[graft] class DelegatingIo(inner: TxIo) extends TxIo {
  override def putIfAbsent(path: String, content: String): Unit =
    inner.putIfAbsent(path, content)
  override def read(path: String): String = inner.read(path)
  override def list(dir: String): Seq[String] = inner.list(dir)
  override def listRecursive(dir: String): Seq[String] =
    inner.listRecursive(dir)
  override def exists(path: String): Boolean = inner.exists(path)
  override def mkdirs(dir: String): Unit = inner.mkdirs(dir)
  override def delete(path: String): Unit = inner.delete(path)
  override def deleteIfExists(path: String): Unit =
    inner.deleteIfExists(path)
  override def deleteRecursive(dir: String): Unit =
    inner.deleteRecursive(dir)
  override def move(src: String, dst: String): Unit =
    inner.move(src, dst)
  override def size(path: String): Long = inner.size(path)
  override def mtime(path: String): Long = inner.mtime(path)
}

private[graft] object TableHarness {

  /** Run `loser` (in this thread) and `winner` (in another) as a
    * DETERMINISTIC version race on `root`: the loser derives first,
    * its v1 publish is held while the winner runs to completion, then
    * the loser's publish proceeds — and loses. Returns the loser's
    * outcome.
    */
  def raceAtV1[A](root: String, winner: => Unit)(loser: => A): A = {
    val mainThread = Thread.currentThread()
    val winnerDone = new java.util.concurrent.CountDownLatch(1)
    val held = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var winnerErr: Option[Throwable] = None
    val wt = new Thread(() =>
      try winner catch { case t: Throwable => winnerErr = Some(t) }
      finally winnerDone.countDown())
    val prev = TxIo.wrapper
    TxIo.wrapper = inner => new DelegatingIo(inner) {
      override def putIfAbsent(path: String, content: String): Unit = {
        if (path.startsWith(root) && path.endsWith("00000001.json") &&
            Thread.currentThread() == mainThread &&
            held.compareAndSet(false, true)) {
          wt.start()
          assert(winnerDone.await(120,
            java.util.concurrent.TimeUnit.SECONDS), "winner timed out")
          winnerErr.foreach(throw _)
        }
        inner.putIfAbsent(path, content)
      }
    }
    try loser finally TxIo.wrapper = prev
  }

  /** The messages of `t` and its causes, outermost first. */
  def chain(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq
}
