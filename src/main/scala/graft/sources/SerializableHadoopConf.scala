package graft.sources

/** Hadoop `Configuration` is not Serializable; this envelope ships the
  * SESSION config (spark.hadoop.* credentials, fs.defaultFS) to executor
  * tasks via its own write/readFields wire format — the same shape
  * Spark's internal `SerializableConfiguration` uses. Broadcast by
  * [[SplitRead.scan]] for the seven file readers, by
  * [[WetIo.writeShards]] and by [[Manifest]]'s footer index build. */
private[sources] class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit =
    value.write(out)
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}
