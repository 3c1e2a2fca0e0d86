package fes;

import java.io.DataInput;
import java.io.DataOutput;
import java.io.IOException;
import java.math.BigDecimal;
import java.util.Collection;
import java.util.Map;
import java.util.TreeMap;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;

/**
 * The version history of one entity's running sum as a walk: the batch
 * {@code version_history} of operators/versioned.py, one limit at a time
 * (streaming/incremental.py).
 *
 * Rows are (entity, ts in microseconds, value as DECIMAL(18,2)), the log's
 * evidence (plans/events_demo.py). The walk keeps the rows it has not folded as one exact sum per
 * distinct ts, and {@link #advance} folds those at or before the limit in
 * ts order into the running sum, one output row per ts: tied rows are one
 * version, as in the batch RANGE frame. The sum is NULL while no value is
 * in it, as SQL's SUM. The state is the running sum and the unfolded ts.
 * Output: (entity, ts in microseconds, sum as DECIMAL(28,2)).
 */
final class HistoryWalk implements Walk {
  // The unfolded rows by ts: their value sum, NULL when no value is known.
  private final TreeMap<Long, BigDecimal> unfolded = new TreeMap<>();
  private BigDecimal sum; // NULL until a value is folded

  /** The output schema for an input whose entity column is {@code entity}. */
  static StructType output(StructField entity) {
    return new StructType()
        .add(entity)
        .add("ts", DataTypes.LongType)
        .add("sum", DataTypes.createDecimalType(28, 2));
  }

  @Override
  public void add(Row r) {
    take(r.getLong(1), r.isNullAt(2) ? null : r.getDecimal(2));
  }

  private void take(long t, BigDecimal v) {
    if (v == null) {
      unfolded.putIfAbsent(t, null);
    } else {
      unfolded.merge(t, v, BigDecimal::add);
    }
  }

  /** The rows are kept in ts order as they come. */
  @Override
  public void sort() {}

  @Override
  public void advance(Object entity, long limit, Collection<Row> out) {
    while (!unfolded.isEmpty() && unfolded.firstKey() <= limit) {
      Map.Entry<Long, BigDecimal> tied = unfolded.pollFirstEntry();
      if (tied.getValue() != null) {
        sum = sum == null ? tied.getValue() : sum.add(tied.getValue());
      }
      out.add(RowFactory.create(entity, tied.getKey(), sum));
    }
  }

  /** The oldest unfolded ts. */
  @Override
  public long due() {
    return unfolded.isEmpty() ? NONE : unfolded.firstKey();
  }

  @Override
  public void save(DataOutput out) throws IOException {
    Walk.writeDecimal(out, sum);
    out.writeInt(unfolded.size());
    for (Map.Entry<Long, BigDecimal> tied : unfolded.entrySet()) {
      out.writeLong(tied.getKey());
      Walk.writeDecimal(out, tied.getValue());
    }
  }

  @Override
  public void load(DataInput in) throws IOException {
    sum = Walk.readDecimal(in);
    for (int i = in.readInt(); i > 0; i--) {
      take(in.readLong(), Walk.readDecimal(in));
    }
  }
}
