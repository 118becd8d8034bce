package graft

import org.apache.spark.sql.SparkSession

/** Conf values whose alternative lost its measurement and was deleted.
  * A conf that still sets one fails loudly at the site that used to
  * read the key, instead of silently running the one remaining form;
  * the former default spellings in `accepted` stay valid, so existing
  * deployment confs keep working. */
object RetiredConf {
  def reject(s: SparkSession, key: String, accepted: String*): Unit =
    s.conf.getOption(key).filterNot(v => accepted.exists(_.equalsIgnoreCase(v.trim)))
      .foreach { v =>
        val keep =
          if (accepted.isEmpty) "unset it" else s"use ${accepted.mkString(" or ")} or unset it"
        throw new IllegalArgumentException(
          s"$key=$v is retired (its alternative was measured and removed); $keep")
      }
}
