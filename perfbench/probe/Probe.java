import java.util.Map;
import java.util.TreeMap;

/**
 * Fixed cold-JVM work for the host speed probe (see hostspeed.py): run as
 * {@code java Probe.java}, so the JDK compiles it in memory first. Counts
 * 300 000 keys in a tree map and prints the length of their rendering.
 */
public class Probe {
    public static void main(String[] args) {
        TreeMap<String, Integer> counts = new TreeMap<>();
        for (long i = 0; i < 300_000; i++) {
            counts.merge(Long.toString(i * 7919 % 100_003), 1, Integer::sum);
        }
        StringBuilder out = new StringBuilder();
        for (Map.Entry<String, Integer> e : counts.entrySet()) {
            out.append(e.getKey()).append(e.getValue());
        }
        System.out.println(out.length());
    }
}
