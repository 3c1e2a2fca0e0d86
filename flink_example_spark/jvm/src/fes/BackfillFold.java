package fes;

import java.util.ArrayDeque;
import java.util.Iterator;
import java.util.NoSuchElementException;
import java.util.Objects;
import org.apache.spark.api.java.function.MapPartitionsFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;

/**
 * The backfill's temporal join as one per-entity fold (plans/events_demo.py).
 *
 * Input: a partition of {@link EntityWalk} rows clustered by entity, so
 * each entity's rows arrive together. Each entity's rows go through one
 * {@link EntityWalk} with no limit. Output: the walk's, one row per example.
 */
public final class BackfillFold implements MapPartitionsFunction<Row, Row> {
  private final long labelDelayMicros;

  public BackfillFold(long labelDelayMicros) {
    this.labelDelayMicros = labelDelayMicros;
  }

  /** The fold over {@code clustered}, whose columns are the input above. */
  public static Dataset<Row> apply(Dataset<Row> clustered, long labelDelayMicros) {
    return clustered.mapPartitions(
        new BackfillFold(labelDelayMicros),
        Encoders.row(EntityWalk.output(clustered.schema().fields()[0])));
  }

  @Override
  public Iterator<Row> call(Iterator<Row> rows) {
    return new Folds(rows);
  }

  private final class Folds implements Iterator<Row> {
    private final Iterator<Row> rows;
    private final ArrayDeque<Row> out = new ArrayDeque<>();
    private final EntityWalk walk = new EntityWalk(labelDelayMicros);
    private Row next;

    Folds(Iterator<Row> rows) {
      this.rows = rows;
      this.next = rows.hasNext() ? rows.next() : null;
    }

    @Override
    public boolean hasNext() {
      while (out.isEmpty() && next != null) {
        fold();
      }
      return !out.isEmpty();
    }

    @Override
    public Row next() {
      if (!hasNext()) {
        throw new NoSuchElementException();
      }
      return out.poll();
    }

    /** Buffers the rows of the entity of {@code next}, then walks them. */
    private void fold() {
      Object entity = next.get(0);
      walk.reset();
      while (next != null && Objects.equals(next.get(0), entity)) {
        walk.add(next);
        next = rows.hasNext() ? rows.next() : null;
      }
      walk.sort();
      walk.advance(entity, EntityWalk.NO_LIMIT, out);
    }
  }
}
