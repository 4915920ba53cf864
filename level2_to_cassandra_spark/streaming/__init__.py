"""Reference-parity streaming engine.

The reference (/root/reference) is a Rust daemon: ZMQ SUB →
per-message JSON decode → demux BOOK/TICK → flatten/transform →
per-symbol daily-reset cumulative volume → per-row Cassandra upsert.
Here the same semantics are Structured Streaming:

    readStream (kafka | file | rate | memory)
      → demux(msg_type)                       [main.rs:75-167]
      → from_json + explode (BOOK)            [main.rs:77, 95-104]
      → projection: prefix strip, epoch-s→ts  [main.rs:62-64, §1.4 q1]
      → foreachBatch: daily-reset cumsum      [main.rs:109-130]
        (the batch window + a carry of earlier batches' totals)
      → upsert sink, last write wins          [main.rs:96-104, 155-165]

All transformations are pure DataFrame→DataFrame functions usable on
batch OR streaming inputs — stream/batch parity is by construction: the
stream's running sums run the batch pipeline's window, which is also
the test oracle for them.
"""
