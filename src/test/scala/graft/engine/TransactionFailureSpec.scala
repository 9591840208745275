package graft.engine

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, SQLException, Statement}
import java.util.Properties

import org.scalatest.funsuite.AnyFunSuite

/** `jdbc:graftdrop:` — Derby behind a link that drops on cue: a
  * statement containing [[LinkDroppingDriver.Marker]] executes, then
  * the server rolls the open transaction back and closes the session,
  * and the statement fails. Every other call goes straight to Derby.
  */
private object LinkDroppingDriver extends Driver {
  val Marker = "drop-link"
  val DerbyUrl = "jdbc:derby:memory:graft_txn_fail;create=true"

  private def forward[T](iface: Class[T], target: T)(
      hook: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val call = (m.getName, Option(args).getOrElse(Array.empty[AnyRef]))
          hook.applyOrElse(call, (c: (String, Array[AnyRef])) =>
            try m.invoke(target, c._2: _*)
            catch { case e: InvocationTargetException => throw e.getCause })
        }
      }).asInstanceOf[T]

  def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val real = DriverManager.getConnection(DerbyUrl)
      forward(classOf[Connection], real) {
        case ("createStatement", Array()) =>
          val st = real.createStatement()
          forward(classOf[Statement], st) {
            case ("execute", Array(sql: String)) if sql.contains(Marker) =>
              st.execute(sql)
              real.rollback()
              real.close()
              throw new SQLException("link dropped mid-batch", "08S01")
          }
      }
    }

  def acceptsURL(url: String): Boolean = url.startsWith("jdbc:graftdrop:")
  def getPropertyInfo(url: String, info: Properties) =
    Array.empty[DriverPropertyInfo]
  def getMajorVersion: Int = 1
  def getMinorVersion: Int = 0
  def jdbcCompliant: Boolean = false
  def getParentLogger = throw new java.sql.SQLFeatureNotSupportedException()
}

/** `jdbc:graftbadclose:` — a connection on which every call fails,
  * and whose `close` then fails with a different error.
  */
private object CloseFailingDriver extends Driver {
  def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else Proxy.newProxyInstance(getClass.getClassLoader,
      Array[Class[_]](classOf[Connection]), new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          throw new SQLException(
            if (m.getName == "close") "close failed" else "probe failed")
      }).asInstanceOf[Connection]

  def acceptsURL(url: String): Boolean = url.startsWith("jdbc:graftbadclose:")
  def getPropertyInfo(url: String, info: Properties) =
    Array.empty[DriverPropertyInfo]
  def getMajorVersion: Int = 1
  def getMinorVersion: Int = 0
  def jdbcCompliant: Boolean = false
  def getParentLogger = throw new java.sql.SQLFeatureNotSupportedException()
}

/** A batch whose connection dies mid-transaction: the writer must
  * surface the underlying error, not a secondary failure from cleanup
  * on the dead connection, and the target must hold no row of it. The
  * live sources keep a failed probe's error the same way.
  */
class TransactionFailureSpec extends AnyFunSuite {

  test("a failed source probe keeps its error when close fails too") {
    DriverManager.registerDriver(CloseFailingDriver)
    val url = "jdbc:graftbadclose:src"
    Seq(new JdbcSchemaSource(url), new MssqlSchemaSource(url)).foreach { src =>
      val e = intercept[SQLException](src.fetchTables())
      assert(e.getMessage == "probe failed")
      assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("close failed"))
    }
  }

  test("a batch that loses its connection fails with the underlying " +
    "error and commits none of its rows") {
    DriverManager.registerDriver(LinkDroppingDriver)
    val writer = new JdbcTargetWriter("jdbc:graftdrop:target", AnsiFlavor)
    writer.createTable("CREATE TABLE `drops` (`id` BIGINT, `note` VARCHAR(20))")
    writer.executeBatch(
      "INSERT INTO `drops` (`id`, `note`) VALUES (1, 'a'), (2, 'b')", 2)
    val e = intercept[RuntimeException](writer.executeBatch(
      s"INSERT INTO `drops` (`id`, `note`) VALUES (3, '${LinkDroppingDriver.Marker}'), (4, 'c')", 2))
    assert(e.getMessage.contains("link dropped mid-batch"), e.getMessage)
    assert(!e.getMessage.contains("No current connection"), e.getMessage)
    // the rollback on the dead connection fails too; it rides along
    assert(e.getSuppressed.nonEmpty)

    val c = DriverManager.getConnection(LinkDroppingDriver.DerbyUrl)
    try {
      val rs = c.createStatement().executeQuery(
        """SELECT "id" FROM "drops" ORDER BY "id"""")
      val ids = Iterator.continually(rs).takeWhile(_.next()).map(_.getLong(1)).toList
      assert(ids == List(1L, 2L))
    } finally c.close()
  }
}
