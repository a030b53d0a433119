package graft.net

import java.net.{ServerSocket, Socket}

/** The accept loop of every graft.net server. Each accepted socket
  * (TCP_NODELAY) is passed to `accept` on the loop's thread, and the
  * Runnable it returns serves the connection on its own daemon thread,
  * so a peer that connects and never speaks cannot block the next one.
  */
private[net] final class AcceptLoop(server: ServerSocket, name: String)(accept: Socket => Runnable) {
  private val thread = new Thread(() => {
    while (!server.isClosed)
      try {
        val s = server.accept()
        s.setTcpNoDelay(true)
        val t = new Thread(accept(s), s"$name-conn-${s.getPort}")
        t.setDaemon(true)
        t.start()
      } catch { case _: Exception => () }
  }, s"$name-accept")
  thread.setDaemon(true)
  thread.start()

  /** Close the listening socket and wait (5 s at most) for the loop to
    * leave accept(), which keeps the port bound until then: returning
    * earlier fails an immediate rebind of the port.
    */
  def close(): Unit = {
    try server.close() catch { case _: Exception => () }
    thread.join(5000)
  }
}
