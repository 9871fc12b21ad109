package lakehouse.fs;

import java.io.IOException;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;

/**
 * The checksummed local FileSystem ({@code fs.file.impl}) over {@link NioRawLocalFileSystem}.
 * A rename onto an existing file returns false, as in the FileSystem contract and in Hive's
 * ProxyLocalFileSystem, which Spark's bundled ServiceLoader entries otherwise pick for file:.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }

  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }
}
