package fes;

import java.io.DataInput;
import java.io.DataOutput;
import java.io.IOException;
import java.math.BigDecimal;
import java.util.ArrayDeque;
import java.util.Arrays;
import java.util.Collection;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;

/**
 * The temporal join of one entity as a state machine: the one walk behind
 * the backfill fold ({@link BackfillFold}) and the stream processor
 * ({@link StreamFold}).
 *
 * Rows are (entity, ts in microseconds, event_id, kind, value as
 * DECIMAL(18,2)), the log's evidence (plans/events_demo.py); kind is
 * {@link #ERROR}, {@link #PURCHASE} or anything else, and value is read only
 * on errors. The walk buffers an entity's rows in primitive arrays, orders
 * them by (ts, event_id NULLS FIRST) and walks them once. A row is an
 * example when it and its predecessor in that order are errors. Two forward
 * pointers give its features:
 *
 *   - loss: the exact sum of the error values of every row with ts at or
 *     before the example's ts (its peers included); NULL while no error
 *     value is in the frame;
 *   - cnt: the purchases with ts at or before ts + label delay; NULL while
 *     no purchase is in the frame.
 *
 * {@link #advance} walks only the rows with ts at or before a limit and
 * emits only the examples whose label frame ends at or before it, so a
 * caller that learns the rows up to a limit at a time (the stream, up to its
 * watermark) gets the rows a caller with every row (the backfill, with
 * {@link #NO_LIMIT}) gets.
 * Output: (entity, ts in microseconds, loss as DECIMAL(28,2), cnt), one
 * row per example.
 */
final class EntityWalk implements Walk {
  static final byte ERROR = 1;
  static final byte PURCHASE = 2;
  static final long NO_LIMIT = Long.MAX_VALUE;

  // Per-row flag bits next to the kind.
  private static final int KIND = 0x3;
  private static final int ID_NULL = 0x4;
  private static final int NO_VALUE = 0x8; // not an error, or a NULL value

  private final long labelDelayMicros;

  // The rows; order[0, n) is their walk order once sorted.
  private int n;
  private long[] ts = new long[64];
  private long[] id = new long[64];
  private long[] cents = new long[64];
  private byte[] flags = new byte[64];
  private int[] order = new int[64];
  private int[] spare = new int[64];

  private int k; // next row to walk
  private int p; // next row the loss sum has not taken
  private int q; // next row the purchase count has not taken
  private boolean prevError;
  private long sum;
  private BigDecimal bigSum; // set once the long sum would overflow
  private boolean anyValue;
  private long purchases;
  // Examples walked whose label frame is not complete yet, oldest first.
  private final ArrayDeque<Probe> pending = new ArrayDeque<>();

  private static final class Probe {
    final long ts;
    final BigDecimal loss;

    Probe(long ts, BigDecimal loss) {
      this.ts = ts;
      this.loss = loss;
    }
  }

  EntityWalk(long labelDelayMicros) {
    this.labelDelayMicros = labelDelayMicros;
  }

  /** The output schema for an input whose entity column is {@code entity}. */
  static StructType output(StructField entity) {
    return new StructType()
        .add(entity)
        .add("ts", DataTypes.LongType)
        .add("loss", DataTypes.createDecimalType(28, 2))
        .add("cnt", DataTypes.LongType);
  }

  /** Forgets every row and sum, for the next entity. */
  void reset() {
    n = k = p = q = 0;
    prevError = anyValue = false;
    sum = purchases = 0;
    bigSum = null;
    pending.clear();
  }

  @Override
  public void add(Row r) {
    int kind = r.isNullAt(3) ? 0 : r.getByte(3) & KIND;
    int f = kind;
    long i = 0;
    long c = 0;
    if (r.isNullAt(2)) {
      f |= ID_NULL;
    } else {
      i = r.getLong(2);
    }
    if (kind == ERROR && !r.isNullAt(4)) {
      // DECIMAL(18,2): the value in cents always fits a long.
      c = r.getDecimal(4).movePointRight(2).longValueExact();
    } else {
      f |= NO_VALUE;
    }
    append(r.getLong(1), i, c, (byte) f);
  }

  private void append(long t, long i, long c, byte f) {
    if (n == ts.length) {
      int cap = 2 * n;
      ts = Arrays.copyOf(ts, cap);
      id = Arrays.copyOf(id, cap);
      cents = Arrays.copyOf(cents, cap);
      flags = Arrays.copyOf(flags, cap);
      order = Arrays.copyOf(order, cap);
      spare = new int[cap];
    }
    ts[n] = t;
    id[n] = i;
    cents[n] = c;
    flags[n] = f;
    order[n] = n;
    n++;
  }

  /** -1, 0 or 1 as row a is before, tied with or after row b. */
  private int compare(int a, int b) {
    if (ts[a] != ts[b]) {
      return ts[a] < ts[b] ? -1 : 1;
    }
    int na = flags[a] & ID_NULL;
    int nb = flags[b] & ID_NULL;
    if (na != nb) {
      return na != 0 ? -1 : 1;
    }
    return na == 0 ? Long.compare(id[a], id[b]) : 0;
  }

  /** Orders {@code order[0, n)}; rows usually arrive in order already. */
  @Override
  public void sort() {
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
    for (int m = lo; m < hi; m++) {
      if (j >= hi || (i < mid && compare(tmp[i], tmp[j]) <= 0)) {
        a[m] = tmp[i++];
      } else {
        a[m] = tmp[j++];
      }
    }
  }

  /**
   * Walks the sorted rows with ts at or before {@code limit} and adds to
   * {@code out} every example whose label frame ends at or before it. The
   * caller must have added every row with ts at or before {@code limit}.
   */
  @Override
  public void advance(Object entity, long limit, Collection<Row> out) {
    for (; k < n && ts[order[k]] <= limit; k++) {
      int row = order[k];
      boolean error = (flags[row] & KIND) == ERROR;
      boolean example = error && prevError;
      prevError = error;
      if (!example) {
        continue;
      }
      long t = ts[row];
      for (; p < n && ts[order[p]] <= t; p++) {
        takeValue(order[p]);
      }
      pending.add(new Probe(t, anyValue ? (bigSum != null ? bigSum : BigDecimal.valueOf(sum, 2)) : null));
      emit(entity, limit, out);
    }
    emit(entity, limit, out);
  }

  private void emit(Object entity, long limit, Collection<Row> out) {
    while (!pending.isEmpty() && pending.peek().ts <= limit - labelDelayMicros) {
      Probe e = pending.poll();
      long label = e.ts + labelDelayMicros;
      for (; q < n && ts[order[q]] <= label; q++) {
        takePurchase(order[q]);
      }
      out.add(RowFactory.create(entity, e.ts, e.loss, purchases > 0 ? purchases : null));
    }
  }

  private void takeValue(int r) {
    if ((flags[r] & NO_VALUE) != 0) {
      return;
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

  private void takePurchase(int r) {
    if ((flags[r] & KIND) == PURCHASE) {
      purchases++;
    }
  }

  /**
   * The label time of the first example that can still come out: the
   * oldest pending example's, else the one the next unwalked row would
   * have; {@link #NONE} when every row is walked and no example pends.
   */
  @Override
  public long due() {
    if (!pending.isEmpty()) {
      return pending.peek().ts + labelDelayMicros;
    }
    return k < n ? ts[order[k]] + labelDelayMicros : NONE;
  }

  /**
   * Writes what a later {@link #advance} still needs: the sums with every
   * walked row taken (no later example precedes a walked row), the pending
   * examples and the rows a pointer has not passed, in walk order.
   */
  @Override
  public void save(DataOutput out) throws IOException {
    for (; p < k; p++) {
      takeValue(order[p]);
    }
    if (pending.isEmpty()) {
      for (; q < k; q++) {
        takePurchase(order[q]);
      }
    }
    int from = Math.min(k, Math.min(p, q));
    out.writeInt(n - from);
    for (int i = from; i < n; i++) {
      int r = order[i];
      out.writeLong(ts[r]);
      out.writeLong(id[r]);
      out.writeLong(cents[r]);
      out.writeByte(flags[r]);
    }
    out.writeInt(k - from);
    out.writeInt(p - from);
    out.writeInt(q - from);
    out.writeBoolean(prevError);
    out.writeLong(sum);
    Walk.writeDecimal(out, bigSum);
    out.writeBoolean(anyValue);
    out.writeLong(purchases);
    out.writeInt(pending.size());
    for (Probe e : pending) {
      out.writeLong(e.ts);
      Walk.writeDecimal(out, e.loss);
    }
  }

  /** Restores what {@link #save} wrote into this (reset) walk. */
  @Override
  public void load(DataInput in) throws IOException {
    reset();
    for (int rows = in.readInt(); n < rows; ) {
      append(in.readLong(), in.readLong(), in.readLong(), in.readByte());
    }
    k = in.readInt();
    p = in.readInt();
    q = in.readInt();
    prevError = in.readBoolean();
    sum = in.readLong();
    bigSum = Walk.readDecimal(in);
    anyValue = in.readBoolean();
    purchases = in.readLong();
    for (int i = in.readInt(); i > 0; i--) {
      pending.add(new Probe(in.readLong(), Walk.readDecimal(in)));
    }
  }
}
