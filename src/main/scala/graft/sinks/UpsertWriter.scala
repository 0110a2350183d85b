package graft.sinks

import java.sql.Connection

import graft.model.{CdcSchema, TableId}
import graft.operators.Changelog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Executor-side JDBC upsert writer — the Spark shape of the reference's
  * `DsqlBatchSinkFunction` (SURVEY.md §2.2): used from
  * `writeStream.foreachBatch` (streaming) or called directly on a batch frame.
  *
  * Delivery contract: Structured Streaming is at-least-once into foreachBatch;
  * the write itself is an idempotent PK upsert, so the composition is
  * effectively-once (SURVEY.md §7.4) — no FlushEvent protocol needed, the
  * micro-batch boundary is the barrier.
  *
  * Scale notes:
  *  - rows are pre-deduplicated per PK with `Changelog.materialize` logic
  *    inside the batch, so each key is written once per batch regardless of
  *    update frequency (the reference buffers per table and dedups on flush);
  *  - writes run per-partition with their own connection (pool-of-32 on
  *    local[32]; on a cluster, one pool per executor), batch size 1000 like
  *    `sink.batch-size` (DsqlSinkOptions.java:73-75);
  *  - retry with exponential backoff ports `DsqlRetryHelper` (147 LoC).
  */
/** Reflective bridge to pgjdbc's copy API (`PGConnection.getCopyAPI()
  * .copyIn(sql, reader)`): present when the runtime driver is PostgreSQL,
  * absent otherwise. Reflection keeps the engine free of a pgjdbc
  * compile-time dependency while still using the native COPY protocol when
  * it is available (the reference loads full snapshots exclusively via COPY,
  * DsqlBatchSinkFunction.java:838-934).
  */
private[sinks] object PgCopy {
  private lazy val pgConnIface: Option[Class[_]] =
    try Some(Class.forName("org.postgresql.PGConnection"))
    catch { case _: ClassNotFoundException => None }

  /** True when the connection speaks the PostgreSQL COPY protocol. */
  def isAvailable(conn: Connection): Boolean =
    pgConnIface.exists(conn.isWrapperFor)

  /** Returns false when the connection is not PostgreSQL (caller falls back
    * to INSERT batches); rethrows the server's SQLException on COPY failure
    * so the caller's retry loop sees it.
    */
  def copyIn(conn: Connection, copySql: String, csvLines: Iterator[String]): Boolean =
    pgConnIface match {
      case Some(iface) if conn.isWrapperFor(iface) =>
        val pg = conn.unwrap(iface.asInstanceOf[Class[AnyRef]])
        val cm = iface.getMethod("getCopyAPI").invoke(pg)
        val reader = new java.io.Reader {
          // stream the CSV without materializing the chunk as one string
          private var cur: String = ""
          private var pos = 0
          override def read(buf: Array[Char], off: Int, len: Int): Int = {
            while (pos >= cur.length) {
              if (!csvLines.hasNext) return -1
              cur = csvLines.next() + "\n"; pos = 0
            }
            val n = math.min(len, cur.length - pos)
            cur.getChars(pos, pos + n, buf, off); pos += n; n
          }
          override def close(): Unit = ()
        }
        try {
          cm.getClass.getMethod("copyIn", classOf[String], classOf[java.io.Reader])
            .invoke(cm, copySql, reader)
          true
        } catch {
          case e: java.lang.reflect.InvocationTargetException =>
            throw e.getCause match { case s: java.sql.SQLException => s; case t => t }
        }
      case _ => false
    }
}

final class UpsertWriter(
    connectionFactory: () => Connection,
    batchSize: Int = 1000,
    maxRetries: Int = 3,
    initialBackoffMs: Long = 1000L
) extends Serializable {

  /** Retry `f` on SQLException with exponential backoff ×2 like
    * `DsqlRetryHelper`. `onRetry` runs before each re-attempt — the JDBC
    * contract requires it: after a failed statement with autoCommit=false,
    * PostgreSQL/DSQL aborts the transaction ("current transaction is
    * aborted"), so the retry must roll back (or reconnect) first and `f`
    * must re-bind its batch from scratch.
    */
  def withRetry[T](op: String, onRetry: () => Unit = () => ())(f: => T): T = {
    var attempt = 0
    var backoff = initialBackoffMs
    while (true) {
      try return f
      catch {
        case e: java.sql.SQLException if attempt < maxRetries =>
          attempt += 1
          Thread.sleep(backoff); backoff *= 2
          onRetry()
        case e: Throwable => throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Bulk-load a snapshot frame via `COPY ... FROM STDIN (FORMAT CSV)` —
    * the reference's full-load fast path (DsqlBatchSinkFunction.java:838-934
    * encodes rows to CSV and streams them through the COPY protocol; COPY is
    * ~5-10× batched INSERT for wide loads). Runs per partition; each
    * partition streams in bounded chunks so a retry can re-send the chunk
    * from its buffer (COPY has no statement-level retry — the whole chunk
    * transaction is rolled back and re-sent).
    *
    * Idempotent under Spark task re-execution (executor loss, speculation):
    * each chunk COPYs into a session-scoped `TEMP ... ON COMMIT DROP`
    * staging table and merges with `INSERT ... ON CONFLICT` inside the same
    * transaction, so re-running a partition whose earlier chunks already
    * committed converges instead of raising a PK violation — the delivery
    * contract of [[writeBatch]] holds on the fast path too.
    *
    * The PostgreSQL copy API is reached reflectively ([[PgCopy]]) so this
    * module has no compile-time pgjdbc dependency; on a non-PostgreSQL
    * driver it degrades to batched `INSERT ... ON CONFLICT` (already
    * idempotent).
    */
  def fullLoad(snapshot: DataFrame, id: TableId, schema: CdcSchema,
               chunkRows: Int = 10000): Unit = {
    val stage = "_graft_stage" // TEMP namespace: per-connection, no collisions
    val stageSql = UpsertSql.createStage(stage, id)
    val copySql = UpsertSql.copyStage(stage, schema)
    val mergeSql = UpsertSql.insertFromStage(id, stage, schema)
    val insertSql = UpsertSql.insertOnConflict(id, schema)
    val cols = schema.columnNames
    val cf = connectionFactory
    val bs = batchSize
    val retries = maxRetries
    val backoff0 = initialBackoffMs
    snapshot.select(cols.map(col): _*).foreachPartition { (rows: Iterator[Row]) =>
      val w = new UpsertWriter(cf, bs, retries, backoff0)
      rows.grouped(chunkRows).foreach { chunk =>
        // one transaction per chunk; a fresh connection per attempt gives a
        // clean transaction to re-send into (simplest correct retry unit)
        w.withRetry("copy-chunk") {
          val conn = cf()
          try {
            conn.setAutoCommit(false)
            if (PgCopy.isAvailable(conn)) {
              val st = conn.createStatement()
              st.execute(stageSql)
              st.close()
              PgCopy.copyIn(conn, copySql, chunk.iterator.map(r => UpsertSql.csvLine(cols.map(r.getAs[Any]))))
              val merge = conn.createStatement()
              merge.execute(mergeSql)
              merge.close()
            } else {
              // non-PostgreSQL driver: batched upserts straight at the target
              val ins = conn.prepareStatement(insertSql)
              chunk.grouped(bs).foreach { g =>
                g.foreach { r =>
                  cols.zipWithIndex.foreach { case (c, i) => ins.setObject(i + 1, r.getAs[Any](c)) }
                  ins.addBatch()
                }
                ins.executeBatch(); ()
              }
              ins.close()
            }
            conn.commit()
          } finally conn.close()
        }
      }
    }
  }

  /** Write one changelog batch for one table: dedup to last-image-per-PK, then
    * upsert survivors and delete tombstones.
    */
  def writeBatch(batch: DataFrame, id: TableId, schema: CdcSchema): Unit = {
    val pks = schema.primaryKeys
    require(pks.nonEmpty, s"$id needs primary keys for upsert")
    val cols = schema.columnNames

    // last image per key, computed distributed (one shuffle, no sort)
    val latest = Changelog.lastImage(batch, pks)

    val upsertSql = UpsertSql.insertOnConflict(id, schema)
    val deleteSql = UpsertSql.delete(id, schema)
    val bs = batchSize
    val cf = connectionFactory
    val retries = maxRetries
    val backoff0 = initialBackoffMs

    latest.foreachPartition { (rows: Iterator[Row]) =>
      val w = new UpsertWriter(cf, bs, retries, backoff0)
      var conn = cf()
      var up: java.sql.PreparedStatement = null
      var del: java.sql.PreparedStatement = null
      try { // setup inside the try: a failing prepare must not leak the connection
        conn.setAutoCommit(false)
        up = conn.prepareStatement(upsertSql)
        del = conn.prepareStatement(deleteSql)
        // Pending rows are buffered so a failed flush can re-bind them on a
        // clean transaction: after a SQLException the server aborts the tx
        // and the statement's batch state is undefined — roll back (or
        // reconnect if the rollback itself fails) before each retry, as the
        // reference's DsqlRetryHelper does.
        val upBuf = scala.collection.mutable.ArrayBuffer.empty[Row]
        val delBuf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def resetTx(): Unit = {
          val reconnect =
            try { conn.rollback(); conn.isClosed }
            catch { case _: java.sql.SQLException => true }
          if (reconnect) {
            try conn.close() catch { case _: java.sql.SQLException => () }
            conn = cf()
            conn.setAutoCommit(false)
            up = conn.prepareStatement(upsertSql)
            del = conn.prepareStatement(deleteSql)
          } else { up.clearBatch(); del.clearBatch() }
        }
        def flush(op: String, buf: scala.collection.mutable.ArrayBuffer[Row],
                  stmt: () => java.sql.PreparedStatement, bind: (java.sql.PreparedStatement, Row) => Unit): Unit =
          if (buf.nonEmpty) {
            w.withRetry(op, onRetry = resetTx _) {
              val s = stmt()
              buf.foreach { r => bind(s, r); s.addBatch() }
              s.executeBatch(); conn.commit()
            }
            buf.clear()
          }
        def flushDeletes(): Unit = flush("delete", delBuf, () => del,
          (s, r) => pks.zipWithIndex.foreach { case (c, i) => s.setObject(i + 1, r.getAs[Any](c)) })
        def flushUpserts(): Unit = flush("upsert", upBuf, () => up,
          (s, r) => cols.zipWithIndex.foreach { case (c, i) => s.setObject(i + 1, r.getAs[Any](c)) })

        val t0 = System.nanoTime()
        var total = 0L
        for (r <- rows) {
          total += 1
          if (r.getAs[String](Changelog.OpCol) == "DELETE") {
            delBuf += r
            if (delBuf.size >= bs) flushDeletes()
          } else {
            upBuf += r
            if (upBuf.size >= bs) flushUpserts()
          }
        }
        flushDeletes(); flushUpserts()
        // RPS metric like DsqlBatchSinkFunction.java:979-1014
        val secs = (System.nanoTime() - t0) / 1e9
        if (total >= 100)
          // scalastyle:off println
          println(f"[graft-sink] $id: $total rows in $secs%.2fs (${total / math.max(secs, 1e-9)}%.0f rps)")
          // scalastyle:on
      } finally conn.close()
    }
  }
}
