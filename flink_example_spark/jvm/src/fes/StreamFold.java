package fes;

import java.io.ByteArrayInputStream;
import java.io.ByteArrayOutputStream;
import java.io.DataInputStream;
import java.io.DataOutputStream;
import java.io.IOException;
import java.io.UncheckedIOException;
import java.util.ArrayList;
import java.util.List;
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
 * The stream's temporal join (streaming/e2e.py): the {@link EntityWalk} of
 * each entity, advanced as the event-time watermark passes its rows.
 *
 * Input: a watermarked stream of {@link EntityWalk} rows with no NULL
 * entity or ts. The watermark is a completeness bound with a strict edge:
 * a row at exactly the watermark can still arrive, so a walk advances to
 * one microsecond before it. Spark drops an input row at or before the
 * previous batch's watermark, so the rows a batch brings all sort after the
 * rows walked before it. Each entity keeps one state value: the walk's
 * unpassed rows, pending examples and sums, and the one event-time timer
 * set for the first watermark that completes its next label frame. Output:
 * the walk's, in append mode.
 */
public final class StreamFold extends StatefulProcessor<Row, Row, Row> {
  private final long labelDelayMicros;
  private transient ValueState<byte[]> state;

  public StreamFold(long labelDelayMicros) {
    this.labelDelayMicros = labelDelayMicros;
  }

  /** The processor over {@code events}, grouped by their entity column. */
  public static Dataset<Row> apply(Dataset<Row> events, long labelDelayMicros) {
    StructField entity = events.schema().fields()[0];
    return events
        .groupByKey(
            (MapFunction<Row, Row>) r -> RowFactory.create(r.get(0)),
            Encoders.row(new StructType().add(entity)))
        .transformWithState(
            new StreamFold(labelDelayMicros),
            TimeMode.EventTime(),
            OutputMode.Append(),
            Encoders.row(EntityWalk.output(entity)));
  }

  @Override
  public void init(OutputMode outputMode, TimeMode timeMode) {
    state = getHandle().getValueState("walk", Encoders.BINARY(), TTLConfig.NONE());
  }

  @Override
  public Iterator<Row> handleInputRows(Row key, Iterator<Row> rows, TimerValues timers) {
    EntityWalk walk = new EntityWalk(labelDelayMicros);
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
    EntityWalk walk = new EntityWalk(labelDelayMicros);
    load(walk);
    // Spark deletes the expired timer itself after this call.
    return step(key, walk, EntityWalk.NONE, timers);
  }

  /** The state into {@code walk}; returns the timer it set. */
  private long load(EntityWalk walk) {
    if (!state.exists()) {
      return EntityWalk.NONE;
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

  private Iterator<Row> step(Row key, EntityWalk walk, long timer, TimerValues timers) {
    List<Row> out = new ArrayList<>();
    walk.advance(key.get(0), timers.getCurrentWatermarkInMs() * 1000 - 1, out);
    // The first watermark W with W * 1000 > the next label time.
    long label = walk.nextLabel();
    long next = label == EntityWalk.NONE ? EntityWalk.NONE : Math.floorDiv(label, 1000) + 1;
    if (next != timer) {
      if (timer != EntityWalk.NONE) {
        getHandle().deleteTimer(timer);
      }
      if (next != EntityWalk.NONE) {
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
