package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, lit}

/** Hand-built flattened-event frames for the CDC specs. */
object CdcFrames {

  /** `events` with the `pk_names` column [[CanalJson.events]] carries: the
    * envelope's `pkNames` declaration, or null when it declares none (then
    * [[CdcApply.envelopePk]] keys on the `id` cell). */
  def withPkNames(events: DataFrame, pkNames: Seq[String] = Nil): DataFrame =
    events.withColumn("pk_names",
      if (pkNames.isEmpty) lit(null).cast("array<string>")
      else array(pkNames.map(lit): _*))
}
