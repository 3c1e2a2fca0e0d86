package fes;

import java.math.BigDecimal;
import java.util.ArrayDeque;
import java.util.Arrays;
import java.util.Iterator;
import java.util.NoSuchElementException;
import java.util.Objects;
import org.apache.spark.api.java.function.MapPartitionsFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;

/**
 * The backfill's temporal join as one per-entity fold (plans/events_demo.py).
 *
 * Input: a partition of (entity, ts in microseconds, event_id, kind, value
 * as DECIMAL(18,2)) clustered by entity, so each entity's rows arrive
 * together (a NULL entity is one entity). kind is {@link #ERROR},
 * {@link #PURCHASE} or anything else; value is read only on errors.
 *
 * For each entity the fold buffers the rows in primitive arrays, orders
 * them by (ts NULLS FIRST, event_id NULLS FIRST) and walks them once. A
 * row is an example when it and its predecessor in that order are errors.
 * Two forward pointers give its features, with NULL-ts rows first and so
 * inside every frame of a row with a known ts:
 *
 *   - loss: the exact sum of the error values of every row with ts at or
 *     before the example's ts (its peers included); NULL while no error
 *     value is in the frame;
 *   - cnt: the purchases with ts at or before ts + label delay; NULL until
 *     a purchase with a known ts is in the frame.
 *
 * Both are NULL on an example with a NULL ts. Output: (entity, ts in
 * microseconds, loss as DECIMAL(28,2), cnt), one row per example.
 */
public final class BackfillFold implements MapPartitionsFunction<Row, Row> {
  public static final byte ERROR = 1;
  public static final byte PURCHASE = 2;

  // Per-row flag bits next to the kind.
  private static final int KIND = 0x3;
  private static final int TS_NULL = 0x4;
  private static final int ID_NULL = 0x8;
  private static final int NO_VALUE = 0x10; // not an error, or a NULL value

  private final long labelDelayMicros;

  public BackfillFold(long labelDelayMicros) {
    this.labelDelayMicros = labelDelayMicros;
  }

  /** The fold over {@code clustered}, whose columns are the input above. */
  public static Dataset<Row> apply(Dataset<Row> clustered, long labelDelayMicros) {
    StructType out = new StructType()
        .add(clustered.schema().fields()[0])
        .add("ts", DataTypes.LongType)
        .add("loss", DataTypes.createDecimalType(28, 2))
        .add("cnt", DataTypes.LongType);
    return clustered.mapPartitions(new BackfillFold(labelDelayMicros), Encoders.row(out));
  }

  @Override
  public Iterator<Row> call(Iterator<Row> rows) {
    return new Walk(rows);
  }

  private final class Walk implements Iterator<Row> {
    private final Iterator<Row> rows;
    private final ArrayDeque<Row> out = new ArrayDeque<>();
    private Row next;
    private int n;
    private long[] ts = new long[64];
    private long[] id = new long[64];
    private long[] cents = new long[64];
    private byte[] flags = new byte[64];
    private int[] order = new int[64];
    private int[] spare = new int[64];

    Walk(Iterator<Row> rows) {
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
      n = 0;
      while (next != null && Objects.equals(next.get(0), entity)) {
        add(next);
        next = rows.hasNext() ? rows.next() : null;
      }
      sort();
      walk(entity);
    }

    private void add(Row r) {
      if (n == ts.length) {
        int cap = 2 * n;
        ts = Arrays.copyOf(ts, cap);
        id = Arrays.copyOf(id, cap);
        cents = Arrays.copyOf(cents, cap);
        flags = Arrays.copyOf(flags, cap);
        order = Arrays.copyOf(order, cap);
        spare = new int[cap];
      }
      int kind = r.isNullAt(3) ? 0 : r.getByte(3) & KIND;
      int f = kind;
      if (r.isNullAt(1)) {
        f |= TS_NULL;
      } else {
        ts[n] = r.getLong(1);
      }
      if (r.isNullAt(2)) {
        f |= ID_NULL;
      } else {
        id[n] = r.getLong(2);
      }
      if (kind == ERROR && !r.isNullAt(4)) {
        // DECIMAL(18,2): the value in cents always fits a long.
        cents[n] = r.getDecimal(4).movePointRight(2).longValueExact();
      } else {
        f |= NO_VALUE;
      }
      flags[n] = (byte) f;
      order[n] = n;
      n++;
    }

    /** -1, 0 or 1 as row a is before, tied with or after row b. */
    private int compare(int a, int b) {
      int na = flags[a] & TS_NULL;
      int nb = flags[b] & TS_NULL;
      if (na != nb) {
        return na != 0 ? -1 : 1;
      }
      if (na == 0 && ts[a] != ts[b]) {
        return ts[a] < ts[b] ? -1 : 1;
      }
      na = flags[a] & ID_NULL;
      nb = flags[b] & ID_NULL;
      if (na != nb) {
        return na != 0 ? -1 : 1;
      }
      return na == 0 ? Long.compare(id[a], id[b]) : 0;
    }

    /** Orders {@code order[0, n)}; rows usually arrive in order already. */
    private void sort() {
      for (int i = 1; i < n; i++) {
        if (compare(order[i - 1], order[i]) > 0) {
          mergeSort(order, spare, 0, n);
          return;
        }
      }
    }

    private void mergeSort(int[] a, int[] tmp, int lo, int hi) {
      if (hi - lo <= 16) {
        for (int i = lo + 1; i < hi; i++) {
          int x = a[i];
          int j = i - 1;
          while (j >= lo && compare(a[j], x) > 0) {
            a[j + 1] = a[j];
            j--;
          }
          a[j + 1] = x;
        }
        return;
      }
      int mid = (lo + hi) >>> 1;
      mergeSort(a, tmp, lo, mid);
      mergeSort(a, tmp, mid, hi);
      if (compare(a[mid - 1], a[mid]) <= 0) {
        return;
      }
      System.arraycopy(a, lo, tmp, lo, hi - lo);
      int i = lo;
      int j = mid;
      for (int k = lo; k < hi; k++) {
        if (j >= hi || (i < mid && compare(tmp[i], tmp[j]) <= 0)) {
          a[k] = tmp[i++];
        } else {
          a[k] = tmp[j++];
        }
      }
    }

    private boolean isTimed(int row) {
      return (flags[row] & TS_NULL) == 0;
    }

    private void walk(Object entity) {
      long sum = 0;
      BigDecimal bigSum = null; // set once the long sum would overflow
      boolean anyValue = false;
      long purchases = 0;
      long timedPurchases = 0;
      int p = 0; // next row the loss sum has not taken
      int q = 0; // next row the purchase count has not taken
      boolean prevError = false;
      for (int k = 0; k < n; k++) {
        int row = order[k];
        boolean error = (flags[row] & KIND) == ERROR;
        boolean example = error && prevError;
        prevError = error;
        if (!example) {
          continue;
        }
        if (!isTimed(row)) {
          out.add(RowFactory.create(entity, null, null, null));
          continue;
        }
        long t = ts[row];
        for (; p < n && (!isTimed(order[p]) || ts[order[p]] <= t); p++) {
          int r = order[p];
          if ((flags[r] & NO_VALUE) != 0) {
            continue;
          }
          anyValue = true;
          if (bigSum == null) {
            try {
              sum = Math.addExact(sum, cents[r]);
            } catch (ArithmeticException overflow) {
              bigSum = BigDecimal.valueOf(sum, 2).add(BigDecimal.valueOf(cents[r], 2));
            }
          } else {
            bigSum = bigSum.add(BigDecimal.valueOf(cents[r], 2));
          }
        }
        long label = t + labelDelayMicros;
        for (; q < n && (!isTimed(order[q]) || ts[order[q]] <= label); q++) {
          int r = order[q];
          if ((flags[r] & KIND) == PURCHASE) {
            purchases++;
            if (isTimed(r)) {
              timedPurchases++;
            }
          }
        }
        out.add(RowFactory.create(
            entity,
            t,
            anyValue ? (bigSum != null ? bigSum : BigDecimal.valueOf(sum, 2)) : null,
            timedPurchases > 0 ? purchases : null));
      }
    }
  }
}
