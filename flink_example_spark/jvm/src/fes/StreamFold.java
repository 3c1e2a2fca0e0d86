package fes;

import java.io.ByteArrayInputStream;
import java.io.ByteArrayOutputStream;
import java.io.DataInputStream;
import java.io.DataOutputStream;
import java.io.IOException;
import java.io.UncheckedIOException;
import java.util.ArrayList;
import java.util.List;
import java.util.function.Function;
import org.apache.spark.api.java.function.MapFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.streaming.ExpiredTimerInfo;
import org.apache.spark.sql.streaming.OutputMode;
import org.apache.spark.sql.streaming.StatefulProcessor;
import org.apache.spark.sql.streaming.TTLConfig;
import org.apache.spark.sql.streaming.TimeMode;
import org.apache.spark.sql.streaming.TimerValues;
import org.apache.spark.sql.streaming.ValueState;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;
import scala.collection.Iterator;
import scala.jdk.javaapi.CollectionConverters;

/**
 * One entity's {@link Walk}, advanced as the event-time watermark passes its
 * rows: the stream's temporal join with {@link EntityWalk}
 * (streaming/e2e.py), its version history with {@link HistoryWalk}
 * (streaming/incremental.py).
 *
 * Input: a watermarked stream of the walk's rows. The watermark is a
 * completeness bound with a strict edge: a row at exactly the watermark can
 * still arrive, so a walk advances to one microsecond before it. Spark
 * drops an input row at or before the previous batch's watermark, so the
 * rows a batch brings all sort after the rows walked before it. Each entity
 * keeps one state value: what its walk saves, and the one event-time timer
 * set for the first watermark past the walk's {@link Walk#due} limit.
 * Output: the walk's, in append mode.
 */
public final class StreamFold extends StatefulProcessor<Row, Row, Row> {
  private final Walk.Factory walks;
  private transient ValueState<byte[]> state;

  private StreamFold(Walk.Factory walks) {
    this.walks = walks;
  }

  /** The training examples of {@code events} (the rows of {@link EntityWalk}). */
  public static Dataset<Row> examples(Dataset<Row> events, long labelDelayMicros) {
    return apply(events, () -> new EntityWalk(labelDelayMicros), EntityWalk::output);
  }

  /** The version history of {@code events} (the rows of {@link HistoryWalk}). */
  public static Dataset<Row> history(Dataset<Row> events) {
    return apply(events, HistoryWalk::new, HistoryWalk::output);
  }

  /**
   * The processor over {@code events}, grouped by their entity column;
   * {@code output} gives the walk's output schema for that column.
   */
  private static Dataset<Row> apply(
      Dataset<Row> events, Walk.Factory walks, Function<StructField, StructType> output) {
    StructField entity = events.schema().fields()[0];
    return events
        .groupByKey(
            (MapFunction<Row, Row>) r -> RowFactory.create(r.get(0)),
            Encoders.row(new StructType().add(entity)))
        .transformWithState(
            new StreamFold(walks),
            TimeMode.EventTime(),
            OutputMode.Append(),
            Encoders.row(output.apply(entity)));
  }

  @Override
  public void init(OutputMode outputMode, TimeMode timeMode) {
    state = getHandle().getValueState("walk", Encoders.BINARY(), TTLConfig.NONE());
  }

  @Override
  public Iterator<Row> handleInputRows(Row key, Iterator<Row> rows, TimerValues timers) {
    Walk walk = walks.create();
    long timer = load(walk);
    while (rows.hasNext()) {
      walk.add(rows.next());
    }
    walk.sort();
    return step(key, walk, timer, timers);
  }

  @Override
  public Iterator<Row> handleExpiredTimer(
      Row key, TimerValues timers, ExpiredTimerInfo expired) {
    Walk walk = walks.create();
    load(walk);
    // Spark deletes the expired timer itself after this call.
    return step(key, walk, Walk.NONE, timers);
  }

  /** The state into {@code walk}; returns the timer it set. */
  private long load(Walk walk) {
    if (!state.exists()) {
      return Walk.NONE;
    }
    try {
      DataInputStream in = new DataInputStream(new ByteArrayInputStream(state.get()));
      long timer = in.readLong();
      walk.load(in);
      return timer;
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    }
  }

  private Iterator<Row> step(Row key, Walk walk, long timer, TimerValues timers) {
    List<Row> out = new ArrayList<>();
    walk.advance(key.get(0), timers.getCurrentWatermarkInMs() * 1000 - 1, out);
    // The first watermark W with W * 1000 > the due limit.
    long due = walk.due();
    long next = due == Walk.NONE ? Walk.NONE : Math.floorDiv(due, 1000) + 1;
    if (next != timer) {
      if (timer != Walk.NONE) {
        getHandle().deleteTimer(timer);
      }
      if (next != Walk.NONE) {
        getHandle().registerTimer(next);
      }
    }
    try {
      ByteArrayOutputStream bytes = new ByteArrayOutputStream();
      DataOutputStream data = new DataOutputStream(bytes);
      data.writeLong(next);
      walk.save(data);
      data.flush();
      state.update(bytes.toByteArray());
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    }
    return CollectionConverters.asScala(out.iterator());
  }
}
