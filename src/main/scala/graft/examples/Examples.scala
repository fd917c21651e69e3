package graft.examples

import java.nio.charset.StandardCharsets.UTF_8

import graft.streaming._
import org.apache.spark.sql.Dataset

/** The reference's examples re-expressed as graft topologies — the
  * migration showcase (each cites its kasper original).
  */
object Examples {

  /** Word count (`examples/word_count_example.go`): split each message
    * value into words, keep a running count per word in keyed state (the
    * reference's `word-count/count/{word}` store entries), emit the
    * updated ASCII count per word exactly like the original.
    *
    * Runs on the default `batchWait` of "5 seconds": a batch fires every
    * 5 s, never because 1,000 messages are waiting (kasper's BatchSize
    * trigger has no counterpart here; see [[TopicProcessorConfig]]).
    */
  def wordCountTopology(name: String): TopicProcessor = new TopicProcessor(
    TopicProcessorConfig(name = name, inputTopics = Seq("words")), wordCount)

  /** [[wordCountTopology]]'s transform. */
  def wordCount(in: Dataset[Message]): Dataset[OutMessage] = {
    import in.sparkSession.implicits._
    val words = in.flatMap(m =>
      new String(m.value, UTF_8).split(" ").filter(_.nonEmpty))
    StatefulOps.runningCount(words).map(kc =>
      OutMessage("word-counts", kc.key.getBytes(UTF_8),
        kc.count.toString.getBytes(UTF_8)))
  }

  /** Hello-world producer transform (`examples/producer_example.go:33-38`):
    * value → "Hello " + value, key preserved.
    */
  def helloTopology(name: String): TopicProcessor = new TopicProcessor(
    TopicProcessorConfig(name = name, inputTopics = Seq("hello")),
    in => {
      import in.sparkSession.implicits._
      in.map(m => OutMessage("world", m.key,
        ("Hello " + new String(m.value, UTF_8)).getBytes(UTF_8)))
    })

  /** Multi-topic fan-in (`examples/multiple_input_topics_example.go:25-33`):
    * one processor subscribed to several topics, message provenance
    * (topic/partition/offset) preserved — the reference prints the line;
    * here it's emitted to an audit topic so the behavior is assertable.
    */
  def multiTopicTopology(name: String): TopicProcessor = new TopicProcessor(
    TopicProcessorConfig(name = name, inputTopics = Seq("hello", "world")),
    in => {
      import in.sparkSession.implicits._
      in.map(m => OutMessage("audit", m.key,
        (s"Got message: key='${new String(m.key, UTF_8)}', " +
          s"value='${new String(m.value, UTF_8)}' at offset='${m.offset}' " +
          s"(topic='${m.topic}', partition='${m.partition}')").getBytes(UTF_8)))
    })
}
