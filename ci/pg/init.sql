-- Fixture schema for the live-PG wire tests (tests/test_live_pg_copy.py),
-- loaded by tools/livepg.py.
-- Exercises the exotic-type surface the A3 schema probe + typemap rewrite
-- chain handles (enum / range / composite / pgvector / multidim array),
-- mirroring the fixtures the reference's py-tests create per-test
-- (/root/reference/py-tests/wrappers.py:96-129 creates schemas on the fly;
-- we pre-bake one deterministic schema instead so the Spark side is
-- read-only).
CREATE EXTENSION IF NOT EXISTS vector;

CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy');
CREATE TYPE dims AS (w int, h int);

CREATE TABLE plain (
    id bigint PRIMARY KEY,
    name text NOT NULL,
    score double precision,
    created date
);
INSERT INTO plain
SELECT i, 'row_' || i, i * 0.5, DATE '2024-01-01' + (i % 365)
FROM generate_series(1, 1000) AS g(i);

CREATE TABLE exotic (
    id bigint PRIMARY KEY,
    m mood,
    r int4range,
    d dims,
    v vector(4),
    grid int[][]
);
INSERT INTO exotic VALUES
  (1, 'happy', '[1,5)',  ROW(3, 4),  '[0.1,0.2,0.3,0.4]', '{{1,2},{3,4}}'),
  (2, 'sad',   '(,10]',  ROW(0, 0),  '[1,0,0,0]',          '{{5,6},{7,8}}'),
  (3, NULL,    'empty',  NULL,       NULL,                 NULL);
