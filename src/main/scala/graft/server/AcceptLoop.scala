package graft.server

import java.io.IOException
import java.net.{InetAddress, ServerSocket, Socket}

/** The accept loop the wire servers share ([[GraftPgServer]],
  * [[GraftMysqlServer]], [[GraftGrpcServer]]): a loopback server socket
  * (backlog 16), one pooled thread accepting, and one pooled thread per
  * connection running `serve` on blocking IO. [[stop]] closes the socket
  * and interrupts every connection thread. */
final class AcceptLoop(port: Int, serve: Socket => Unit) {

  private val server = new ServerSocket(port, 16, InetAddress.getByName("127.0.0.1"))
  @volatile private var running = true
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()

  def boundPort: Int = server.getLocalPort

  def start(): Unit = {
    pool.submit(new Runnable {
      def run(): Unit = while (running) {
        try {
          val s = server.accept()
          pool.submit(new Runnable { def run(): Unit = serve(s) })
        } catch { case _: IOException => () /* closed */ }
      }
    })
    ()
  }

  def stop(): Unit = {
    running = false
    try server.close() catch { case _: IOException => () }
    pool.shutdownNow()
    ()
  }
}
